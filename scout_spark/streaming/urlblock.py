"""Streaming URL/domain blocklist monitoring.

The batch inventory's curation_url_domain_blocklist (inventory/
curation.py) flags each document's registrable domain against a
broadcast blocklist and rolls up per-(domain, blocked) counts. The
flag computation is pure-Column + a stream-static broadcast join —
legal in Structured Streaming — and the doc counts are plain
decomposable sums: MERGEABLE state, so the drained stream equals the
batch counters exactly (asserted in tests/test_streaming.py::
test_url_domain_counters_stream_equals_batch). The batch entry's
n_hosts exact-distinct stays batch-only — exact distinct is not
mergeable counter state (approx_count_distinct is the streaming
substitute when a host count is needed live).

100 TB: streaming state is |domains| rows; the parse/flag work is
row-local map work on the document stream, the blocklist a broadcast
dim — the funnel/drift pattern.
"""

from __future__ import annotations

from scout_spark.inventory.curation import (  # noqa: F401 — re-exported
    domain_block_counters,
    url_flag_frame,
)

__all__ = ["domain_block_counters", "url_flag_frame"]
