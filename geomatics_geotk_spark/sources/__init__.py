"""Sources: deterministic synthetic interleaved-document tables (the
BASELINE.json input_hint substrate) plus the fixture dimension tables, and
a checkpoint-resumable parquet sink with per-partition lineage."""

from .documents import (  # noqa: F401
    synth_documents,
    zones_table,
    polygon_zones,
    pois_table,
    raster_tiles_table,
    periods_table,
    with_span_hash,
    assert_spans_preserved,
)
from .sink import checkpointed_write  # noqa: F401
