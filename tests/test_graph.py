"""Ground truth for the round-4 kernels: triangle census, PageRank,
PCA, and MMR — each pinned against an independent dense/naive
reference (numpy power iteration, numpy eigh, brute-force counting),
not against the distributed implementation itself.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from scout_spark.operators.graph import pagerank, triangle_stats
from scout_spark.operators.mmr import mmr_select
from scout_spark.operators.pca import fit_pca, project


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


# ------------------------------------------------------------------ triangles
def _naive_triangles(pairs):
    es = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({x for p in es for x in p})
    cnt = 0
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) not in es:
                continue
            for c in nodes:
                if c > b and (a, c) in es and (b, c) in es:
                    cnt += 1
    return cnt


@pytest.mark.parametrize(
    "pairs",
    [
        # K4: 4 triangles
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
        # path graph: 0 triangles
        [(1, 2), (2, 3), (3, 4), (4, 5)],
        # two triangles sharing an edge + a pendant
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 5)],
        # star (hub, no closure)
        [(0, i) for i in range(1, 8)],
    ],
)
def test_triangle_stats_matches_naive(spark, pairs):
    row = triangle_stats(_edges_df(spark, pairs)).collect()[0]
    es = {tuple(sorted(p)) for p in pairs}
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert row["n_nodes"] == len(deg)
    assert row["n_edges"] == len(es)
    assert row["n_wedges"] == sum(d * (d - 1) // 2 for d in deg.values())
    assert row["n_triangles"] == _naive_triangles(pairs)


# ------------------------------------------------------------------ pagerank
def test_pagerank_matches_numpy_power_iteration(spark):
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 1), (2, 6)]
    iterations, damping = 10, 0.85
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            _edges_df(spark, pairs), iterations=iterations, damping=damping
        ).collect()
    }
    # dense reference: column-stochastic transition over undirected edges
    nodes = sorted({x for p in pairs for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for u, v in pairs:
        a[idx[v], idx[u]] = 1.0
        a[idx[u], idx[v]] = 1.0
    a /= a.sum(axis=0, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        r = (1 - damping) / n + damping * (a @ r)
    assert set(got) == set(nodes)
    for node in nodes:
        assert got[node] == pytest.approx(r[idx[node]], abs=1e-9)
    # mass conservation on an undirected (no-dangling) graph
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


# ------------------------------------------------------------------ pca
def test_pca_matches_dense_numpy(spark):
    rng = np.random.default_rng(7)
    # anisotropic cloud: dominant direction along (1,1,0,...)/sqrt(2)
    base = rng.normal(size=(200, 6))
    base[:, 0] += 3.0 * base[:, 1]
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    ).repartition(5)
    mu, comps, ratio = fit_pca(df, "embedding", k=2)
    x = base
    ref_mu = x.mean(axis=0)
    ref_cov = np.cov(x, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(ref_cov)
    order = np.argsort(evals)[::-1]
    ref_comps = evecs[:, order[:2]]
    for j in range(2):
        if ref_comps[np.argmax(np.abs(ref_comps[:, j])), j] < 0:
            ref_comps[:, j] = -ref_comps[:, j]
    np.testing.assert_allclose(mu, ref_mu, atol=1e-9)
    np.testing.assert_allclose(comps, ref_comps, atol=1e-7)
    np.testing.assert_allclose(
        ratio, evals[order[:2]] / evals.sum(), atol=1e-9
    )
    # projection: distributed matmul equals dense
    proj = {
        r["vec_id"]: r["pc"]
        for r in project(df, mu, comps, "embedding").collect()
    }
    ref_proj = (x - ref_mu) @ ref_comps
    for i in range(len(x)):
        np.testing.assert_allclose(proj[i], ref_proj[i], atol=1e-7)


def test_pca_rejects_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "embedding array<double>")
    with pytest.raises(ValueError):
        fit_pca(empty, "embedding", k=1)
    one = spark.createDataFrame([([1.0, 2.0],)], "embedding array<double>")
    with pytest.raises(ValueError):
        fit_pca(one, "embedding", k=1)


# ------------------------------------------------------------------ mmr
def _mmr_reference(ids, vecs, rel, k, lam):
    """Independent quadratic implementation (no gram matrix, no masks)."""

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na == 0:
            na = 1.0
        if nb == 0:
            nb = 1.0
        return float(a @ b / (na * nb))

    pool = list(range(len(ids)))
    chosen = []
    out = []
    for _ in range(min(k, len(ids))):
        best_score, best_i = None, None
        for i in pool:
            red = max((cos(vecs[i], vecs[j]) for j in chosen), default=0.0)
            s = lam * rel[i] - (1 - lam) * red
            if (
                best_score is None
                or s > best_score
                or (s == best_score and ids[i] < ids[best_i])
            ):
                best_score, best_i = s, i
        pool.remove(best_i)
        chosen.append(best_i)
        out.append((int(ids[best_i]), float(rel[best_i]), float(best_score)))
    return out


def test_mmr_matches_reference():
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(30, 8))
    # plant near-duplicates with top relevance: plain top-k would pick
    # all three, MMR must spread out
    vecs[1] = vecs[0] + 1e-3
    vecs[2] = vecs[0] - 1e-3
    rel = rng.uniform(0.5, 1.0, size=30)
    rel[0], rel[1], rel[2] = 0.99, 0.98, 0.97
    ids = np.arange(100, 130)
    got = mmr_select(ids, vecs, rel, k=8, lam=0.7)
    ref = _mmr_reference(ids, vecs, rel, 8, 0.7)
    assert [g[0] for g in got] == [r[0] for r in ref]
    for g, r in zip(got, ref):
        assert g[1] == pytest.approx(r[1], abs=1e-12)
        assert g[2] == pytest.approx(r[2], abs=1e-9)
    # the duplicate cluster must not monopolize the head of the ranking
    head = {g[0] for g in got[:3]}
    assert not {100, 101, 102} <= head


def test_mmr_edge_cases():
    assert mmr_select(np.array([]), np.zeros((0, 4)), np.array([]), 5) == []
    one = mmr_select(
        np.array([7]), np.ones((1, 4)), np.array([0.5]), 3, lam=0.7
    )
    assert [x[0] for x in one] == [7]
    # k larger than pool: returns the whole pool exactly once
    ids = np.array([3, 1, 2])
    vecs = np.eye(3)
    rel = np.array([0.9, 0.8, 0.7])
    got = mmr_select(ids, vecs, rel, k=10, lam=0.5)
    assert sorted(x[0] for x in got) == [1, 2, 3]


# ------------------------------------------------------------------ pq
def test_pq_adc_recall_vs_bruteforce(spark):
    import numpy as np

    from scout_spark.operators.pq import (
        adc_table,
        encode_pq,
        pq_topk,
        train_codebooks,
    )

    rng = np.random.default_rng(3)
    base = rng.normal(size=(600, 16)).astype(np.float64)
    # plant a tight cluster around the query so true neighbors exist
    q = rng.normal(size=16)
    for i in range(25):
        base[i] = q + rng.normal(scale=0.05, size=16)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    books = train_codebooks(df, "embedding", m=4, k=16, sample_mod=1)
    assert books.shape == (4, 16, 4)
    codes = encode_pq(df, books, "embedding").select("vec_id", "code")
    # PQ cannot rank WITHIN a code cell (the planted cluster shares
    # codes), so the meaningful metric is recall@50 of the exact
    # top-10 — the shortlist the float-rerank stage would verify
    got = {
        r["vec_id"] for r in pq_topk(codes, q, books, k_results=50).collect()
    }
    exact = set(np.argsort(-(base @ q))[:10].tolist())
    recall = len(got & exact) / 10
    assert recall >= 0.8, f"PQ recall@50 {recall} too low"
    # ADC table matches direct per-vector reconstruction scoring
    table = adc_table(q, books)
    row = codes.where(F.col("vec_id") == 0).collect()[0]["code"]
    recon = sum(books[j][row[j]] @ q[j * 4 : (j + 1) * 4] for j in range(4))
    assert recon == pytest.approx(table[np.arange(4), row].sum(), abs=1e-9)


def test_pq_rejects_bad_shapes(spark):
    import numpy as np

    from scout_spark.operators.pq import train_codebooks

    df = spark.createDataFrame(
        [(i, np.arange(10.0).tolist()) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError):  # 10 not divisible by m=4
        train_codebooks(df, "embedding", m=4, k=8, sample_mod=1)
    tiny = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError):  # sample smaller than k
        train_codebooks(tiny, "embedding", m=1, k=16, sample_mod=1)


# ------------------------------------------------------------------ ppjoin
def test_prefix_filter_join_complete_vs_bruteforce(spark):
    """PPJoin must return EXACTLY the brute-force pair set — the prefix
    principle guarantees no false negatives; the verify step kills the
    false positives."""
    from itertools import combinations

    from scout_spark.operators.setjoin import prefix_filter_join

    rng = __import__("numpy").random.default_rng(5)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        k = int(rng.integers(3, 12))
        docs.append((i, sorted(set(rng.choice(vocab, size=k).tolist()))))
    # plant exact and near duplicates
    docs.append((100, docs[0][1]))
    docs.append((101, docs[1][1][:-1] + ["w39"]))
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    t = 0.7
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filter_join(df, "doc_id", "toks", t).collect()
    }
    want = {}
    for (ia, ta), (ib, tb) in combinations(docs, 2):
        sa, sb = set(ta), set(tb)
        j = len(sa & sb) / len(sa | sb)
        if j >= t:
            a, b = min(ia, ib), max(ia, ib)
            want[(a, b)] = round(j, 6)
    assert got == want
    # the planted exact duplicate must surface at jaccard 1.0
    assert got[(0, 100)] == 1.0


def test_prefix_filter_join_validates_threshold(spark):
    from scout_spark.operators.setjoin import prefix_filter_join

    df = spark.createDataFrame([(1, ["a"])], "doc_id long, toks array<string>")
    import pytest as _pt

    with _pt.raises(ValueError):
        prefix_filter_join(df, "doc_id", "toks", 0.0)
    with _pt.raises(ValueError):
        prefix_filter_join(df, "doc_id", "toks", 1.5)


# ------------------------------------------------------------------ jaro
def test_jaro_winkler_matches_duckdb():
    """The scalar must be CHARACTER-EXACT vs DuckDB's implementation —
    that's what lets the inventory entry carry a hard oracle."""
    import duckdb

    from scout_spark.functions.jaro import jaro_winkler

    con = duckdb.connect()
    pairs = [
        ("martha", "marhta"),
        ("dixon", "dicksonx"),
        ("jellyfish", "smellyfish"),
        ("dwayne", "duane"),
        ("crate", "trace"),
        ("ab", "ba"),
        ("", "abc"),
        ("abc", ""),
        ("abc", "abc"),
        ("a", "a"),
        ("Customer#000000001", "Customer#000000500"),
        ("aaaaaa", "aaaaaa"),
        ("prefixmatch", "prefixxxxxx"),
    ]
    for a, b in pairs:
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert abs(jaro_winkler(a, b) - want) < 1e-12, (a, b)


def test_jaro_winkler_random_fuzz_vs_duckdb():
    """200 random pairs (shared alphabet, varied lengths) — catches
    window/transposition/boost-threshold edges no fixed list covers."""
    import random

    import duckdb

    from scout_spark.functions.jaro import jaro_winkler

    con = duckdb.connect()
    rnd = random.Random(42)
    alpha = "abcde#01"
    for _ in range(200):
        a = "".join(rnd.choice(alpha) for _ in range(rnd.randint(0, 12)))
        b = "".join(rnd.choice(alpha) for _ in range(rnd.randint(0, 12)))
        want = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert abs(jaro_winkler(a, b) - want) < 1e-12, (a, b, want)


def test_ivf_pq_composite_prunes_and_recalls(spark):
    import numpy as np

    from scout_spark.operators.pq import ivf_pq_topk

    rng = np.random.default_rng(9)
    base = rng.normal(size=(500, 16)).astype(np.float64)
    q = rng.normal(size=16)
    for i in range(20):
        base[i] = q + rng.normal(scale=0.05, size=16)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(base)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    # nprobe < n_centroids: the scan must actually prune
    topk, diag = ivf_pq_topk(
        df, 0, k_results=10, n_centroids=8, nprobe=2, m=4, k_codes=16,
        with_diagnostics=True,
    )
    assert 0 < diag["n_candidates"] < diag["n_total"]
    got = [r["vec_id"] for r in topk.collect()]
    assert len(got) == 10
    # all cells probed -> only PQ error remains: the planted cluster
    # (the true top neighbors) must dominate the shortlist
    topk_all, diag_all = ivf_pq_topk(
        df, 0, k_results=50, n_centroids=8, nprobe=8, m=4, k_codes=16,
        with_diagnostics=True,
    )
    assert diag_all["n_candidates"] == diag_all["n_total"]
    got_all = {r["vec_id"] for r in topk_all.collect()}
    exact = set(np.argsort(-(base @ q))[:10].tolist()) - {0}
    recall = len(got_all & exact) / len(exact)
    assert recall >= 0.8, f"IVF-PQ recall@50 {recall}"


def test_ivf_pq_missing_query_returns_empty(spark):
    from scout_spark.operators.pq import ivf_pq_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    topk, diag = ivf_pq_topk(df, 999, m=1, k_codes=4)
    assert topk.count() == 0 and diag["n_candidates"] == 0


def test_boruvka_mst_matches_kruskal(spark):
    """Borůvka forest == driver-side Kruskal (union-find) on the same
    weighted graph, including the deterministic (w, src, dst) tie
    order on equal weights."""
    import random

    from scout_spark.operators.mst import boruvka_mst

    rng = random.Random(7)
    n = 60
    edges = set()
    # random connected-ish graph with duplicate weights on purpose
    for i in range(1, n):
        edges.add((rng.randrange(0, i), i))
    for _ in range(120):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    rows = [(a, b, rng.randrange(1, 8)) for a, b in sorted(edges)]
    df = spark.createDataFrame(rows, "src long, dst long, w long")

    got = {
        (r["src"], r["dst"], r["w"]) for r in boruvka_mst(df).collect()
    }

    # Kruskal with the same (w, src, dst) total order
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for w, a, b in sorted((w, a, b) for a, b, w in rows):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.add((a, b, w))
    assert got == want
    assert len(got) == n - 1  # connected by construction
    assert sum(w for _, _, w in got) == sum(w for _, _, w in want)


def test_boruvka_mst_disconnected_forest(spark):
    """r11 internals change (stateless relabel + single-root early
    exit): the early exit only fires on CONNECTED graphs — a
    disconnected graph must still terminate via the empty-selection
    round and return one spanning tree PER component. Two components
    with duplicate weights; forest checked against per-component
    Kruskal."""
    from scout_spark.operators.mst import boruvka_mst

    # component A: path 0-1-2-3 + chord; component B: triangle 10-11-12
    rows = [
        (0, 1, 2), (1, 2, 2), (2, 3, 1), (0, 3, 5),
        (10, 11, 1), (11, 12, 1), (10, 12, 3),
    ]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {(r["src"], r["dst"], r["w"]) for r in boruvka_mst(df).collect()}
    # Kruskal per (w, src, dst) order: A keeps (2,3,1),(0,1,2),(1,2,2);
    # B keeps (10,11,1),(11,12,1)
    assert got == {(2, 3, 1), (0, 1, 2), (1, 2, 2), (10, 11, 1), (11, 12, 1)}


def test_mst_twin_oracle_matches_synthetic_kruskal(spark):
    """The r7 unrolled-CTE MST oracle == driver-side Kruskal on a
    synthetic graph injected as the lineitem co-purchase relation —
    independent of the Spark side, this pins the GENERATED SQL's
    selection/contraction logic itself (2-cycle break, pointer chase,
    packed argmin), including duplicate weights."""
    import random

    import duckdb

    from scout_spark.inventory.r7_twins import _mst_twin_oracle

    rng = random.Random(11)
    n = 80
    edges = set()
    for i in range(1, n):
        edges.add((rng.randrange(0, i), i))
    for _ in range(200):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # the oracle derives w = 1 + (src+dst) % 5 itself; feed it a fake
    # lineitem where each edge is one co-purchased order of two parts
    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    for okey, (a, b) in enumerate(sorted(edges)):
        con.execute(f"INSERT INTO lineitem VALUES ({okey}, {a}), ({okey}, {b})")
    got = con.execute(_mst_twin_oracle()).fetchall()

    # Kruskal with the same derived weights and (w, src, dst) order
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    tree = []
    for w, a, b in sorted((1 + (a + b) % 5, a, b) for a, b in edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            tree.append((w, a, b))
    want = {}
    for w, a, b in tree:
        k = want.setdefault(w, [0, 0, 0, 0])
        k[0] += 1
        k[1] += w
        k[2] += a
        k[3] += b
    assert got == [
        (w, *want[w]) for w in sorted(want)
    ]
    assert sum(v[0] for v in want.values()) == n - 1


def test_mst_twin_consistent_with_rows_only_entry(spark, sf_dir):
    """The oracle-backed twin and the rows-only graph_mst_boruvka
    entry describe the SAME forest: total edges and weight agree."""
    from scout_spark.inventory import load_all

    reg = load_all()
    twin = reg["graph_mst_boruvka_unrolled_twin"].spark(
        spark, sf_dir
    ).collect()
    base = reg["graph_mst_boruvka"].spark(spark, sf_dir).collect()[0]
    assert sum(r["n_edges"] for r in twin) == base["n_tree_edges"]
    assert sum(r["weight_sum"] for r in twin) == base["total_weight"]


def test_pca_between_scatter_twin_direction_matches_numpy(spark, sf_dir):
    """The integer between-class-scatter power iteration aligns with
    numpy's true top eigenvector of the FLOAT between-class scatter
    on the same quantized data — the twin is a real principal
    direction, not just a deterministic ritual."""
    import numpy as np

    from scout_spark.inventory import load_all
    from scout_spark.inventory.r7_twins import _PCA_SCALE

    got = (
        load_all()["pca_between_scatter_integer_twin"]
        .spark(spark, sf_dir)
        .collect()
    )
    v = np.array(
        [r["eigvec_q"] for r in sorted(got, key=lambda r: r["dim"])],
        dtype=float,
    )
    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding", "label")
        .toPandas()
    )
    q = np.floor(np.array(pdf["embedding"].tolist(), dtype=float) * _PCA_SCALE)
    lab = pdf["label"].to_numpy()
    mu = q.mean(0)
    bmat = np.zeros((q.shape[1], q.shape[1]))
    for lv in np.unique(lab):
        ql = q[lab == lv]
        d = ql.mean(0) - mu
        bmat += len(ql) * np.outer(d, d)
    top = np.linalg.eigh(bmat)[1][:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos


def test_mmr_twin_diversification_fires(spark, sf_dir):
    """The MMR twin's pick set must differ from pure top-5-by-rel
    (diversification actually trades relevance for novelty on this
    corpus) while pick 1 is the relevance argmax, and scores are
    exactly 7·rel − 3·max-dot-to-selected recomputed from raw data."""
    import numpy as np

    from scout_spark.inventory import load_all
    from scout_spark.inventory.r7_twins import (
        _MMR_WREL,
        _MMR_WSIM,
        _PCA_SCALE,
    )

    picks = (
        load_all()["mmr_greedy_integer_unrolled_twin"]
        .spark(spark, sf_dir)
        .collect()
    )
    assert [r["rank"] for r in picks] == [1, 2, 3, 4, 5]

    pdf = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
    )
    q = np.floor(
        np.array(pdf["embedding"].tolist(), dtype=float) * _PCA_SCALE
    ).astype(object)
    ids = pdf["vec_id"].to_numpy()
    qv = q[ids == 0][0]
    rels = {
        int(i): int(sum(a * b for a, b in zip(v, qv)))
        for i, v in zip(ids, q)
        if i != 0
    }
    top5 = [i for i, _ in sorted(rels.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
    got_ids = [r["vec_id"] for r in picks]
    assert got_ids[0] == top5[0]          # pick 1 = relevance argmax
    assert got_ids != top5                # diversification fired
    # recompute scores independently
    vec = {int(i): v for i, v in zip(ids, q) if i != 0}
    sel = []
    for r in picks:
        if r["rank"] == 1:
            assert r["mmr_score"] == _MMR_WREL * rels[r["vec_id"]]
        else:
            ms = max(
                int(sum(a * b for a, b in zip(vec[r["vec_id"]], vec[s])))
                for s in sel
            )
            assert (
                r["mmr_score"]
                == _MMR_WREL * rels[r["vec_id"]] - _MMR_WSIM * ms
            )
        sel.append(r["vec_id"])


def test_boruvka_unmaterialized_input_warns(spark):
    """ADVICE r11: checkpoint_input=False with no persisted/
    checkpointed ancestor must warn (the stateless relabel would
    re-run the upstream pipeline every round); a checkpointed or
    persisted-ancestor input must NOT warn."""
    import warnings

    from scout_spark.operators.mst import boruvka_mst

    # plain computed lineage, nothing materialized (createDataFrame
    # would plan as LogicalRDD — already driver-materialized — and
    # correctly NOT warn)
    raw = spark.range(1, 4).select(
        F.col("id").alias("src"),
        (F.col("id") % 3 + 1).alias("dst"),
        (F.col("id") + 3).alias("w"),
    ).where(F.col("src") < F.col("dst"))

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        boruvka_mst(raw, checkpoint_input=False).collect()
    assert any("re-run the input" in str(w.message) for w in caught)

    ck = raw.localCheckpoint()
    proj = ck.select("src", "dst", "w")  # projection over materialized
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = boruvka_mst(proj, checkpoint_input=False).collect()
    assert not any("re-run the input" in str(w.message) for w in caught)
    assert {(r["src"], r["dst"]) for r in out} == {(1, 2), (2, 3)}


def test_boruvka_guard_reads_plan_nodes_not_plan_text(spark):
    """The recompute guard looks at the plan's node classes: a column
    named after a materialized node is no persisted ancestor, so the
    unmaterialized input still warns."""
    import warnings

    from scout_spark.operators.mst import boruvka_mst

    raw = spark.range(1, 4).select(
        F.col("id").alias("src"),
        (F.col("id") % 3 + 1).alias("dst"),
        (F.col("id") + 3).alias("w"),
    ).where(F.col("src") < F.col("dst"))
    for edges in (raw, raw.withColumn("InMemoryRelation", F.lit(1))):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            boruvka_mst(edges, checkpoint_input=False).collect()
        assert any("re-run the input" in str(w.message) for w in caught), edges.columns
