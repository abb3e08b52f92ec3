"""Ground-truth tests for the retrieval/sketch operators: BM25 against
an independent Python computation, heavy hitters against exact pandas
counting (plus the Misra-Gries superset guarantee under adversarially
small k)."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from scout_spark.inventory import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _py_tokens(text: str) -> list[str]:
    import re

    canon = re.sub(r" +", " ", re.sub(r"[^a-z0-9 ]", " ", (text or "").lower())).strip()
    return [t for t in canon.split(" ") if t]


def test_bm25_matches_python_reference(spark, registry):
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms"])
        for r in registry["bm25_topk_retrieval"].spark(spark, SF).collect()
    }
    docs = {
        r["doc_id"]: _py_tokens(r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    terms = ("spark", "table", "merge", "fast")
    k1, b = 1.2, 0.75
    dls = {d: len(t) for d, t in docs.items() if t}
    n_docs = len(dls)
    avgdl = sum(dls.values()) / n_docs
    dfr = {
        q: sum(1 for t in docs.values() if q in t) for q in terms
    }
    scores = {}
    for d, toks in docs.items():
        c = Counter(toks)
        s, nt = 0.0, 0
        for q in terms:
            tf = c.get(q, 0)
            if tf == 0:
                continue
            nt += 1
            idf = math.log(1.0 + (n_docs - dfr[q] + 0.5) / (dfr[q] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dls[d] / avgdl))
        if nt:
            scores[d] = (round(s, 6), nt)
    expected = dict(
        sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
    )
    assert got == expected


def test_heavy_hitters_exact_vs_pandas(spark, registry):
    got = {
        r["tok"]: (r["n"], r["share"])
        for r in registry["sketch_heavy_hitter_tokens"].spark(spark, SF).collect()
    }
    toks = [
        t
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("text")
        .collect()
        for t in _py_tokens(r["text"])
    ]
    c = Counter(toks)
    n = len(toks)
    expected = {
        t: (cnt, round(cnt / n, 6)) for t, cnt in c.items() if cnt * 40 > n
    }
    assert got == expected
    assert len(got) > 0  # the Zipf head must actually trigger


def test_misra_gries_superset_guarantee_small_k(spark):
    """Even with k barely above the true heavy-hitter count and a
    skewed stream split across many partitions, the two-pass operator
    still returns exactly the true heavy hitters."""
    from scout_spark.operators.sketches import heavy_hitters_exact

    rows = (
        [("alpha",)] * 400 + [("beta",)] * 150 + [("gamma",)] * 90
        + [(f"tail{i}",) for i in range(360)]
    )
    df = spark.createDataFrame(rows, "tok string").repartition(16)
    n = len(rows)
    for k in (4, 8, 64):
        got = {
            r["tok"]: r["n"]
            for r in heavy_hitters_exact(df, "tok", k=k).collect()
        }
        expected = {
            t: c
            for t, c in Counter(x[0] for x in rows).items()
            if c * k > n
        }
        assert got == expected, f"k={k}"


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_texts = st.lists(
    st.text(alphabet="abc XY.9", min_size=0, max_size=400),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_texts)
def test_chunking_invariants(spark, texts):
    """For arbitrary text: chunks start every 48 tokens, every chunk has
    1..64 tokens, consecutive chunks overlap by exactly 16, and the
    stride-aligned reassembly reproduces the document's token list."""
    import re

    df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, n_chars long",
    )
    from pyspark.sql import functions as F

    from scout_spark.inventory.text import _CHUNK_STRIDE, _CHUNK_TOKENS
    # chunk_documents loads parquet by sf_dir, so replicate its exact
    # expressions over this in-memory frame
    from scout_spark.inventory.common import tokens_col as _tokens_col

    t = df.select("doc_id", _tokens_col(F.col("text")).alias("toks")).withColumn(
        "dl", F.size("toks")
    )
    chunk = F.slice(F.col("toks"), F.col("s") + 1, _CHUNK_TOKENS)
    out = (
        t.where(F.col("dl") > 0)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), F.col("dl") - 1, F.lit(_CHUNK_STRIDE))
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s").alias("chunk_start"),
            F.size(chunk).alias("n"),
            chunk.alias("chunk"),
        )
        .collect()
    )
    pytoks = {
        i: re.findall("[a-z0-9]+", t.lower()) for i, t in enumerate(texts)
    }
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, toks in pytoks.items():
        rows = sorted(by_doc.get(doc_id, []), key=lambda r: r["chunk_start"])
        if not toks:
            assert rows == []
            continue
        starts = [r["chunk_start"] for r in rows]
        assert starts == list(range(0, len(toks), _CHUNK_STRIDE))
        for r in rows:
            s = r["chunk_start"]
            assert list(r["chunk"]) == toks[s : s + _CHUNK_TOKENS]
            assert 1 <= r["n"] <= _CHUNK_TOKENS
        # stride-aligned reassembly: first 48 tokens of each chunk,
        # concatenated, reproduce the document token list exactly
        reassembled = [
            tok for r in rows for tok in list(r["chunk"])[:_CHUNK_STRIDE]
        ]
        assert reassembled == toks


def test_cms_never_undercounts_and_bounded_overcount(spark):
    """CMS guarantees: estimate >= true count for EVERY item; with
    width=2048 over a small stream, overcount stays within eps*N
    (eps ~= 2/width); and sketches of shards merged by summing counters
    equal the whole-stream sketch."""
    from collections import Counter

    from pyspark.sql import functions as F

    from scout_spark.operators.sketches import cms_build, cms_estimates

    rows = (
        [("alpha",)] * 300 + [("beta",)] * 120 + [("gamma",)] * 45
        + [(f"t{i}",) for i in range(500)]
    )
    truth = Counter(x[0] for x in rows)
    n = len(rows)
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    sketch = cms_build(df, "tok", width=2048, depth=4)
    queries = spark.createDataFrame(
        [(t,) for t in ["alpha", "beta", "gamma", "t0", "t499", "absent"]],
        "tok string",
    )
    est = {
        r["tok"]: r["estimate"]
        for r in cms_estimates(sketch, queries, "tok", width=2048, depth=4).collect()
    }
    eps_n = 2.0 / 2048 * n * 4  # generous slack over the 2/width bound
    for tok, e in est.items():
        assert e >= truth.get(tok, 0), (tok, e)
        assert e - truth.get(tok, 0) <= max(2, eps_n), (tok, e)
    # mergeability: shard sketches summed == whole-stream sketch
    half1 = spark.createDataFrame(rows[: n // 2], "tok string")
    half2 = spark.createDataFrame(rows[n // 2 :], "tok string")
    merged = (
        cms_build(half1, "tok", width=2048, depth=4)
        .unionByName(cms_build(half2, "tok", width=2048, depth=4))
        .groupBy("d", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    whole = {
        (r["d"], r["bucket"]): r["n"] for r in sketch.collect()
    }
    got = {(r["d"], r["bucket"]): r["n"] for r in merged.collect()}
    assert got == whole
