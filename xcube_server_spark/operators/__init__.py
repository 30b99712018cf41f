from .nearest import asof_join
from .pyramid import decimate
from .resample import resample_weekly_mean
from .spatial import antimeridian_pred, bbox_filter
from .timeseries import masked_mean_per_step

__all__ = [
    "asof_join",
    "decimate",
    "resample_weekly_mean",
    "antimeridian_pred",
    "bbox_filter",
    "masked_mean_per_step",
]
