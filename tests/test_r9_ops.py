"""Ground-truth tests for the round-9 wave (curation, text and multimodal
entries).

The oracle parity replica is the primary gate; these pin the kernel
and rule semantics independently of the SQL twins:

- shot_keyframe_hashes against a hand-built payload with known
  boundaries, hashed by an independent per-element WHT (the SQL
  formula transcribed in pure Python, no numpy matmul);
- the public-suffix registrable-domain rule on both branches;
- trigram-KN output sanity (probability range, deterministic order).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _wht_hash_reference(frame_bytes: bytes) -> int:
    """Sign-of-WHT-coefficient hash, element-by-element (the oracle's
    formula, independent of the kernel's batched matmul)."""
    assert len(frame_bytes) == 64
    h = 0
    for u in range(8):
        for v in range(8):
            if u == 0 and v == 0:
                continue
            c = 0
            for k in range(64):
                s = (1 - 2 * (bin(u & (k // 8)).count("1") % 2)) * (
                    1 - 2 * (bin(v & (k % 8)).count("1") % 2)
                )
                c += s * frame_bytes[k]
            if c > 0:
                h |= 1 << ((u * 8 + v) - 1)
    return h


def test_shot_keyframe_hashes_known_payload(spark):
    from scout_spark.operators.multimodal import (
        pack_blobs,
        shot_keyframe_hashes,
    )

    # frame0: all 'a' (sig 97*64=6208); frame1: all 'a' (jump 0 — same
    # shot); frame2: all 'z' (sig 122*64=7808, jump 1600 > 200 — cut)
    payload = b"a" * 64 + b"a" * 64 + b"z" * 64
    df = spark.createDataFrame(
        [(1, payload, "s")], "doc_id long, payload binary, src string"
    )
    blobs = pack_blobs(
        df, "doc_id", "payload", kind="video", source_col="src"
    )
    rows = {
        (r.shot_id, r.frame_index): r.ph
        for r in shot_keyframe_hashes(blobs).collect()
    }
    assert set(rows) == {(0, 0), (1, 2)}
    assert rows[(0, 0)] == _wht_hash_reference(b"a" * 64)
    assert rows[(1, 2)] == _wht_hash_reference(b"z" * 64)
    # constant rasters have zero AC coefficients -> hash 0, and a
    # LINEAR ramp is orthogonal to every (u>0, v>0) WHT basis and
    # sign-negative on the axes (also hash 0, verified) — use a
    # quadratic raster for a non-trivial hash value
    ramp = bytes((k * k) % 251 for k in range(64))
    df2 = spark.createDataFrame(
        [(2, ramp, "s")], "doc_id long, payload binary, src string"
    )
    (row,) = shot_keyframe_hashes(
        pack_blobs(
            df2, "doc_id", "payload", kind="video", source_col="src"
        )
    ).collect()
    assert row.ph == _wht_hash_reference(ramp) != 0


def test_registrable_domain_rule_both_branches(spark):
    from scout_spark.inventory.curation import curation_url_domain_blocklist

    df = spark.createDataFrame(
        [("www.src2.co.uk",), ("cdn.src0.com",), ("m.x.y.src5.io",)],
        "host string",
    )
    labels = F.split(F.col("host"), r"\.")
    n = F.size(labels)
    reg = F.when(
        F.col("host").endswith(".co.uk"),
        F.concat_ws(".", F.slice(labels, n - 2, F.lit(3))),
    ).otherwise(F.concat_ws(".", F.slice(labels, n - 1, F.lit(2))))
    got = [r[0] for r in df.select(reg).collect()]
    assert got == ["src2.co.uk", "src0.com", "src5.io"]


def test_trigram_kn_probabilities_sane(spark, oracle_sf_dir):
    from scout_spark.inventory.text import lm_kneser_ney_trigram

    rows = lm_kneser_ney_trigram(spark, oracle_sf_dir).collect()
    assert len(rows) == 20
    ps = [r.p_kn3 for r in rows]
    assert all(0.0 < p <= 1.0 for p in ps)
    assert ps == sorted(ps, reverse=True)


def test_keyframe_probe_stream_equals_batch(spark, sf_dir, tmp_path_factory):
    """Streaming keyframe-dedup ingest probe: a stream of videos
    probing a static banded index must produce exactly the batch
    probe's match set (shared keyframe_band_index/keyframe_probe
    helpers; the kernel is mapInPandas, legal on streams; the bucket
    join is stream-static)."""
    from scout_spark.inventory.common import table as _t
    from scout_spark.operators.multimodal import (
        pack_blobs,
        shot_keyframe_hashes,
    )
    from scout_spark.streaming.drift import read_documents_stream
    from scout_spark.streaming.events import run_to_memory_sink
    from scout_spark.streaming.keyframe import (
        keyframe_band_index,
        keyframe_probe,
    )

    path = str(tmp_path_factory.mktemp("kf_stream"))
    # sf_dir fixture, not a hardcoded path (ADVICE r09): the test
    # must follow SPARK_GRAFT_TEST_SF_DIR if the driver relocates
    # testdata, like the other stream==batch tests.
    docs = _t(spark, sf_dir, "documents").where(
        F.length("text") == F.octet_length("text")
    )
    docs.repartition(4).write.mode("overwrite").parquet(path)

    def sigs_of(frame):
        blobs = pack_blobs(
            frame.select(
                "doc_id",
                F.encode(F.col("text"), "UTF-8").alias("payload"),
                "source",
            ),
            "doc_id",
            "payload",
            kind="video",
            source_col="source",
        )
        return shot_keyframe_hashes(blobs)

    index = keyframe_band_index(
        sigs_of(spark.read.parquet(path))
    ).localCheckpoint()
    exp = {
        tuple(r)
        for r in keyframe_probe(
            sigs_of(spark.read.parquet(path)), index
        ).collect()
    }
    stream = read_documents_stream(spark, path, max_files_per_trigger=1)
    got = {
        tuple(r)
        for r in run_to_memory_sink(
            keyframe_probe(sigs_of(stream), index),
            "t_kfprobe",
            output_mode="complete",
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_trigram_kn_matches_independent_python(spark, oracle_sf_dir):
    """Pin the Kneser-Ney MATH, not just cross-engine parity: oracle
    parity cannot catch the same wrong formula implemented on both
    engines, so recompute interpolated trigram KN (Chen & Goodman
    continuation recursion) independently in pure Python from the raw
    parquet and compare the top-20 exactly."""
    import re
    from collections import Counter, defaultdict

    import duckdb

    from scout_spark.inventory.text import lm_kneser_ney_trigram

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
    for _, text in rows:
        toks = re.findall(r"[a-z0-9]+", text)
        for i in range(len(toks) - 2):
            tg[(toks[i], toks[i + 1], toks[i + 2])] += 1
    c12 = Counter()
    n3_foll = Counter()
    bt = Counter()  # (w2,w3) -> distinct w1 count (types are unique)
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
    scored = []
    for (w1, w2, w3), c123 in tg.items():
        p_lower = max(bt[(w2, w3)] - d, 0) / nmid_2[w2] + (
            (d * n23_types[w2]) / nmid_2[w2]
        ) * (nprec_3[w3] / ntot)
        p = max(c123 - d, 0) / c12[(w1, w2)] + (
            (d * n3_foll[(w1, w2)]) / c12[(w1, w2)]
        ) * p_lower
        scored.append((round(p, 6), w1, w2, w3, c123))
    scored.sort(key=lambda t: (-t[0], t[1], t[2], t[3]))
    exp = [(w1, w2, w3, c, p) for p, w1, w2, w3, c in scored[:20]]
    got = [
        (r.w1, r.w2, r.w3, r.c123, r.p_kn3)
        for r in lm_kneser_ney_trigram(spark, oracle_sf_dir).collect()
    ]
    assert got == exp


def test_dup_by_quality_matches_independent_python(spark, oracle_sf_dir):
    """Independent math pin for the 2x2 filter-interaction audit:
    recompute per-doc 8-gram dup coverage, stopword counts, integer
    flags, and cell aggregates in pure Python from raw parquet."""
    import re
    from collections import Counter, defaultdict

    import duckdb

    from scout_spark.inventory.curation import curation_dup_by_quality_band

    rows = (
        duckdb.connect()
        .execute(
            "SELECT doc_id, lower(coalesce(text, '')) FROM "
            f"read_parquet('{oracle_sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    grams = defaultdict(list)  # gram -> [(doc, pos1based)]
    toks_by_doc = {}
    for doc, text in rows:
        toks = re.findall(r"[a-z0-9]+", text)
        toks_by_doc[doc] = toks
        for i in range(len(toks) - 7):
            grams[" ".join(toks[i : i + 8])].append((doc, i + 1))
    covered = defaultdict(set)
    for occ in grams.values():
        if len(occ) >= 2:
            for doc, p in occ:
                covered[doc].update(range(p, p + 8))
    cells = defaultdict(lambda: [0, 0, 0])  # n_docs, covered, total
    for doc, toks in toks_by_doc.items():
        n_tok = len(toks)
        if n_tok == 0:
            continue
        n_stop = sum(1 for t in toks if t in ("the", "a"))
        cov = len(covered.get(doc, ()))
        key = (n_stop * 10 >= n_tok, cov * 5 >= n_tok)
        cells[key][0] += 1
        cells[key][1] += cov
        cells[key][2] += n_tok
    exp = sorted(
        (hs, hd, n, c, t, round(c / t, 6))
        for (hs, hd), (n, c, t) in cells.items()
    )
    got = sorted(
        tuple(r)
        for r in curation_dup_by_quality_band(
            spark, oracle_sf_dir
        ).collect()
    )
    assert got == exp
