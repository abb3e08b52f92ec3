"""Streaming LM-quality scoring at ingest.

The batch inventory's lm_kn3_heldout_doc_score (inventory/text.py)
trains an interpolated trigram Kneser-Ney model on the 80% split and
scores held-out documents by per-token integer log-micros. The scoring
half is exactly the shape a training-data pipeline runs AT INGEST: new
documents stream in, each is scored against a STATIC model (the
CCNet-style perplexity filter live).

The shared helpers make the twin structural rather than re-implemented:

- ``kn3_doc_trigrams`` is pure-Column (tokenize + shifted-slice zip +
  a repartition barrier) — legal on a streaming frame;
- ``kn3_model`` builds the model from a BATCH frame (checkpointed
  type-frame + broadcast dims + a collected ntot int) — stream-static
  joins are legal, and passing ntot as a literal (not a 1-row
  crossJoin) keeps the scoring pipeline at exactly ONE aggregation,
  Structured Streaming's limit;
- ``kn3_score_per_doc`` therefore runs identically on a batch frame
  and a streaming frame (complete-mode output; asserted drained
  stream == batch in tests/test_streaming_kn3.py).

100 TB: streaming state is |docs-in-window| score rows (or none with a
foreachBatch append sink, since a document's trigrams arrive in its
own micro-batch); the model is a broadcast dim refreshed on retrain —
the stream-static bucket-join pattern the keyframe ingest probe uses.
"""

from __future__ import annotations

from scout_spark.inventory.text import (  # noqa: F401 — re-exported
    kn3_doc_trigrams,
    kn3_model,
    kn3_score_per_doc,
)

__all__ = ["kn3_doc_trigrams", "kn3_model", "kn3_score_per_doc"]
