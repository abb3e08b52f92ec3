"""Ground-truth pins for the round-10 entries (independent of the
DuckDB oracle — parity cannot catch the same wrong formula implemented
on both engines)."""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F


def test_kn3_heldout_matches_independent_python(spark, oracle_sf_dir):
    """Recompute the held-out trigram-KN document scores in pure
    Python from the raw parquet: 80/20 split, train-side continuation
    counts, per-token integer ln-micros, per-doc sums — and compare
    the entry's top-20 exactly."""
    import duckdb

    from scout_spark.inventory.text import lm_kn3_heldout_doc_score

    rows = (
        duckdb.connect()
        .execute(
            "SELECT doc_id, lower(coalesce(text, '')) FROM "
            f"read_parquet('{oracle_sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    d = 0.75
    tg = Counter()
    held_docs = {}
    for doc_id, text in rows:
        toks = re.findall(r"[a-z0-9]+", text)
        trigrams = [
            (toks[i], toks[i + 1], toks[i + 2])
            for i in range(len(toks) - 2)
        ]
        if (doc_id // 20) % 5 == 4:
            held_docs[doc_id] = trigrams
        else:
            for t in trigrams:
                tg[t] += 1
    c12 = Counter()
    n3_foll = Counter()
    bt = Counter()
    for (w1, w2, w3), c in tg.items():
        c12[(w1, w2)] += c
        n3_foll[(w1, w2)] += 1
        bt[(w2, w3)] += 1
    nmid_2 = defaultdict(int)
    n23_types = defaultdict(int)
    nprec_3 = defaultdict(int)
    for (w2, w3), n_prec in bt.items():
        nmid_2[w2] += n_prec
        n23_types[w2] += 1
        nprec_3[w3] += 1
    ntot = len(bt)

    per_doc = []
    for doc_id, trigrams in held_docs.items():
        if not trigrams:
            continue
        n_scored = n_oov = total = 0
        for w1, w2, w3 in trigrams:
            if (
                (w1, w2) not in c12
                or w2 not in nmid_2
                or w3 not in nprec_3
            ):
                n_oov += 1
                continue
            p_lower = max(bt[(w2, w3)] - d, 0) / nmid_2[w2] + (
                (d * n23_types[w2]) / nmid_2[w2]
            ) * (nprec_3[w3] / ntot)
            p = max(tg[(w1, w2, w3)] - d, 0) / c12[(w1, w2)] + (
                (d * n3_foll[(w1, w2)]) / c12[(w1, w2)]
            ) * p_lower
            total += int(round(math.log(p) * 1e6))
            n_scored += 1
        avg = (
            round((total / 1e6) / n_scored, 6) if n_scored else None
        )
        per_doc.append(
            (doc_id, len(trigrams), n_scored, n_oov, total, avg)
        )
    per_doc.sort(key=lambda t: (t[5], t[0]))
    exp = per_doc[:20]
    got = [
        (
            r.doc_id,
            r.n_trigrams,
            r.n_scored,
            r.n_oov,
            r.total_lnp_micro,
            r.avg_lnp,
        )
        for r in lm_kn3_heldout_doc_score(spark, oracle_sf_dir).collect()
    ]
    assert got == exp
    # all held-out log-probs are negative (p < 1) and the sort is
    # most-surprising-first
    assert all(t[4] < 0 for t in got)
    avgs = [t[5] for t in got]
    assert avgs == sorted(avgs)


def test_kn3_heldout_split_is_within_source(spark, oracle_sf_dir):
    """The 80/20 split must vary WITHIN sources (doc_id % k with
    k | 20 is constant per source on this corpus — the collapse that
    made the first URL-blocklist draft vacuous)."""
    from scout_spark.inventory.common import table as _t

    d = _t(spark, oracle_sf_dir, "documents").select(
        "source", (F.expr("doc_id div 20") % 5 == 4).alias("held")
    )
    per_side = (
        d.groupBy("held")
        .agg(F.countDistinct("source").alias("n_src"))
        .collect()
    )
    assert {r.held: r.n_src for r in per_side} == {True: 20, False: 20}


def test_keyframe_kpi_consistent_with_pair_entry(spark, oracle_sf_dir):
    """The per-source KPI must be exactly reconstructible from the
    pair-level entry's output plus the keyframe stats — an
    independent recomputation through a DIFFERENT path (media-level
    pair aggregate) than the KPI's keyframe-level candidate stream."""
    import duckdb

    from scout_spark.inventory.multimodal import dedup_video_keyframe_phash
    from scout_spark.inventory.multimodal import curation_keyframe_dup_rate_by_source

    kpi = {
        r.source: r
        for r in curation_keyframe_dup_rate_by_source(
            spark, oracle_sf_dir
        ).collect()
    }
    pairs = dedup_video_keyframe_phash(spark, oracle_sf_dir).collect()
    src_of = dict(
        duckdb.connect()
        .execute(
            "SELECT doc_id, source FROM "
            f"read_parquet('{oracle_sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    partners = defaultdict(set)
    for r in pairs:
        partners[r.media_a].add(r.media_b)
        partners[r.media_b].add(r.media_a)
    n_dup = Counter()
    n_cross = Counter()
    for m, ps in partners.items():
        n_dup[src_of[m]] += 1
        if any(src_of[p] != src_of[m] for p in ps):
            n_cross[src_of[m]] += 1
    assert len(kpi) == 20
    for source, row in kpi.items():
        assert row.n_dup_media == n_dup[source]
        assert row.n_dup_media_cross == n_cross[source]
        assert 0 <= row.n_dup_media_cross <= row.n_dup_media
        assert row.n_dup_media <= row.n_media
        assert row.n_media <= row.n_keyframes
        assert row.dup_media_rate == round(
            row.n_dup_media / row.n_media, 6
        )
