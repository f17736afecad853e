"""Streaming windowed aggregation with watermarks — late-data-safe stats.

Companion to the incremental dedup stream: as crawl segments land,
maintain per-window ingest stats (docs, langs, dup-digest collisions)
with bounded state. Late rows inside the watermark update their window;
rows later than the watermark may be dropped by Spark's state machinery
(the bound is one-sided) — the documented trade for finite state at
10¹² docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Append-mode windowed counts with a late-data watermark.

    The canonical Structured-Streaming windowed aggregation: per
    (tumbling ``window``, ``key_col``) event counts where a row arriving
    up to ``watermark`` after its window is GUARANTEED to still update
    it, and rows later than that MAY be dropped (Spark's bound is
    one-sided; empirically on 4.1 a beyond-watermark row forms a fresh
    window and is emitted in its own batch rather than silently
    vanishing). In append mode a window emits exactly once, when the
    watermark passes its end; at 10¹² docs this is the ingest-dashboard
    pattern (finalized hourly rows land in the sink as each hour
    closes, state never grows past the watermark horizon).
    Contract-checked end-to-end (cross-batch late update counted,
    append single-emission, unclosed window withheld) by
    ``stream_events_hourly`` in ``__spark_entry__``.
    """
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("window"),
                 F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
