from .catalog import init_warehouse  # noqa: F401
from .load import backfill, load_month  # noqa: F401
from .layout import (  # noqa: F401
    analyze,
    compacted,
    file_stats,
    write_bucketed,
    write_sorted,
)
from .eqdeletes import (  # noqa: F401
    snapshot_append_upsert,
    snapshot_delete_keys,
    stream_snapshot_upsert,
)
from .replicate import replicate_keyed  # noqa: F401
from .queries import monthly_zone_pay, taxi_zone_dim  # noqa: F401
