from htm_streamer_spark.functions.array_funcs import (
    featurize_hist_kernel,
    token_bucket_expr,
)

__all__ = [
    "featurize_hist_kernel",
    "token_bucket_expr",
]
