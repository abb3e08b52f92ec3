"""Ground-truth checks for the round-6 oracle twins, independent of
the DuckDB differential: the semdedup twin's full pipeline (integer
codes -> md5-seeded assignment -> threshold pairs -> min-id-keeper
closure) is recomputed here as a brute-force float-free reference so
the entry stays guarded when the driver window rotates past it."""

from __future__ import annotations

import hashlib

import pytest


def _reference_semdedup(rows, k, scale, num, den):
    """Pure-python reference: same integer semantics, different
    formulation (global edge list + BFS closure, not union-find)."""
    import math

    qn = {
        r["vec_id"]: [int(math.floor(float(x) * scale)) for x in r["embedding"]]
        for r in rows
    }
    n2 = {i: sum(v * v for v in q) for i, q in qn.items()}
    seeds = sorted(
        qn, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:k]
    cid_of = {vid: c + 1 for c, vid in enumerate(seeds)}
    assign = {}
    for i, q in qn.items():
        best = None
        for s in seeds:
            sv = qn[s]
            dot = sum(a * b for a, b in zip(q, sv))
            d2 = n2[i] - 2 * dot + n2[s]
            key = (d2, cid_of[s])
            if best is None or key < best[0]:
                best = (key, cid_of[s])
        assign[i] = best[1]
    # threshold pairs within cluster
    ids = sorted(qn)
    adj = {i: set() for i in ids}
    for a_i in range(len(ids)):
        for b_i in range(a_i + 1, len(ids)):
            a, b = ids[a_i], ids[b_i]
            if assign[a] != assign[b]:
                continue
            dot = sum(x * y for x, y in zip(qn[a], qn[b]))
            if dot > 0 and den * den * dot * dot >= num * num * n2[a] * n2[b]:
                adj[a].add(b)
                adj[b].add(a)
    # BFS closure to min-id keeper
    keeper = {}
    seen = set()
    for i in ids:
        if i in seen or not adj[i]:
            continue
        comp, stack = [], [i]
        seen.add(i)
        while stack:
            x = stack.pop()
            comp.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        m = min(comp)
        for x in comp:
            keeper[x] = m
    # per-cluster report
    out = {}
    for i in ids:
        c = assign[i]
        rec = out.setdefault(c, [0, 0, set()])
        rec[0] += 1
        if i in keeper and keeper[i] != i:
            rec[1] += 1
            rec[2].add(keeper[i])
    return {
        c: (n, dropped, len(groups))
        for c, (n, dropped, groups) in sorted(out.items())
    }


def test_semdedup_twin_matches_bruteforce_reference(spark, sf_dir):
    import scout_spark.inventory.dedup as rt
    from scout_spark.inventory import load_all

    fn = load_all()["semdedup_md5_integer_twin"].spark
    got = {
        r["cluster"]: (r["n_vecs"], r["n_dropped"], r["n_dup_groups"])
        for r in fn(spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    want = _reference_semdedup(
        rows, rt._SD_K, rt._SD_SCALE, rt._SD_NUM, rt._SD_DEN
    )
    assert got == want
    # the check is vacuous if no duplicate ball exists — assert the
    # corpus actually exercises the closure
    assert sum(d for (_, d, _) in want.values()) > 0


def test_semdedup_twin_single_shuffle_into_closure(spark, sf_dir):
    """The pair scan + closure must reach the Arrow stage through ONE
    exchange (groupBy cluster); a second data-sized exchange means the
    per-cluster collapse regressed to a pair join."""
    from scout_spark.inventory import load_all

    df = load_all()["semdedup_md5_integer_twin"].spark(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange")
    # expected exchanges: broadcast of the k seeds, hash by vec_id for
    # the assignment agg, hash by cluster into FlatMapGroupsInPandas,
    # hash by cluster for the report agg, singlePartition for the
    # final orderBy — all key- or k-bounded; anything beyond that is
    # a regression
    assert "FlatMapGroupsInPandas" in plan
    assert n_exchange <= 6, plan


def test_semdedup_quantized_component_bound(spark):
    """ADVICE r06: the twin's int64 no-overflow proof needs |q| <= 3079
    (|x| <= 3.079). Pin the actual testdata range at every sf dir so a
    regenerated corpus with wider components fails HERE, loudly, not as
    silent numpy wraparound inside the closure kernel."""
    import glob

    import pyarrow.parquet as pq

    import scout_spark.inventory.dedup as rt

    for f in sorted(glob.glob("/root/testdata/sf*/embeddings.parquet")):
        tbl = pq.read_table(f, columns=["embedding"])
        flat = tbl["embedding"].combine_chunks().flatten().to_numpy()
        qmax = abs(flat * rt._SD_SCALE).max()
        assert qmax <= 3079, (
            f"{f}: quantized component bound {qmax:.0f} > 3079 — "
            "the semdedup twin's int64 arithmetic would overflow"
        )


def test_semdedup_closure_raises_on_overflow_range(spark):
    """The _close kernel itself must reject out-of-bound codes (the
    guard, not just the testdata pin)."""
    import pytest as _pytest

    import scout_spark.inventory.dedup as rt

    # drive the guard through a tiny real frame: quantized codes of
    # magnitude > 3079 come from embedding components > 3.079
    df = spark.createDataFrame(
        [(1, [5.0] * 4), (2, [5.0] * 4)], ["vec_id", "embedding"]
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "embeddings.parquet"))
        bad = rt.semdedup_md5_integer_twin(spark, d)
        with _pytest.raises(Exception, match="no-overflow bound"):
            bad.collect()
