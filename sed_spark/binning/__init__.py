from sed_spark.binning.core import (
    BinnedData,
    bin_dataframe,
    equidepth_edges,
    normalization_histogram_from_timed_dataframe,
    normalization_histogram_from_timestamps,
    sparse_histogram,
)
from sed_spark.binning.spec import (
    BinAxis,
    axis_from_edges,
    bin_centers_to_bin_edges,
    bin_edges_to_bin_centers,
    normalize_bins,
)

__all__ = [
    "BinAxis",
    "BinnedData",
    "axis_from_edges",
    "equidepth_edges",
    "bin_dataframe",
    "bin_centers_to_bin_edges",
    "bin_edges_to_bin_centers",
    "normalize_bins",
    "normalization_histogram_from_timed_dataframe",
    "normalization_histogram_from_timestamps",
    "sparse_histogram",
]
