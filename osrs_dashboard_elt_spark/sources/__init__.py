"""Sources & sinks: parquet read/write, idempotent dedup-append,
watermarks, atomic publish, bucketed tables, REST data source."""

from .bucketed import is_bucketed_on, read_bucketed, write_bucketed
from .io import (
    filter_newer_than_watermarks,
    incremental_scan,
    publish_blue_green,
    read_published,
)
from .parquet import (
    dedup_append,
    max_watermark,
    new_rows_against,
    prune_to_window,
    per_key_watermark,
    read_new_since,
)
from .rest import (
    RestTimeSeriesDataSource,
    cached_item_mapping,
    register as register_rest_source,
)

__all__ = [
    "RestTimeSeriesDataSource",
    "cached_item_mapping",
    "dedup_append",
    "filter_newer_than_watermarks",
    "incremental_scan",
    "is_bucketed_on",
    "max_watermark",
    "new_rows_against",
    "prune_to_window",
    "per_key_watermark",
    "publish_blue_green",
    "read_bucketed",
    "read_new_since",
    "read_published",
    "register_rest_source",
    "write_bucketed",
]
