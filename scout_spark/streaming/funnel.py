"""Streaming curation-funnel monitoring.

The batch inventory's curation_filter_funnel (inventory/curation.py)
reduces the corpus to ONE counter row (per-stage survivor counts and
surviving-token sums) before the per-stage unpivot. Those counters are
plain decomposable sums — MERGEABLE streaming state: each
micro-batch's partial counts add into the store, so the drained stream
equals the batch counters exactly regardless of how the input was
split into drops (asserted in tests/test_streaming.py::
test_funnel_counters_stream_equals_batch). The per-stage report is a
finishing step over the single counter row — run it per trigger in
``foreachBatch`` or on the complete-mode sink, exactly the drift-JSD
pattern (streaming/drift.py).

100 TB: streaming state is ONE row; the flag computation is row-local
map work on the document stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from scout_spark.inventory.curation import (  # noqa: F401 — re-exported
    funnel_counters,
    funnel_flag_frame,
    funnel_report,
)

__all__ = ["funnel_counters", "funnel_flag_frame", "funnel_report"]
