"""Distributed byte-pair-encoding vocabulary training (training-data
pipeline extension — the tokenizer-training stage of an LLM corpus
pipeline, run where the corpus lives instead of sampling to one node).

Classic BPE (Sennrich et al. 2016, public algorithm): start from the
word-frequency table with words split into symbol sequences; repeatedly
take the most frequent adjacent symbol pair and merge it everywhere.

Distributed shape:
  - the corpus-sized work — tokenize + word counting — is ONE shuffle
    keyed on the word (map-side partial agg absorbs the Zipf head);
  - the iteration then runs over the DISTINCT-WORD table (orders of
    magnitude smaller than the corpus; bounded by vocabulary, not data
    size), so each merge round is a cheap pair-explode + groupBy;
  - per round the driver receives exactly ONE row (the argmax pair) —
    the same tiny-build-side procedural-resolve shape as the reference's
    bbox lookup (reference repo.py:16-45); the merged-pair application
    is an Arrow-batched pandas UDF over the word table;
  - lineage is truncated with localCheckpoint every few rounds (same
    discipline as operators/dedup.py connected_components) so the plan
    does not grow linearly with merge count.

At 100 TB: the word table is ~10⁷-10⁸ rows (vocabulary-bounded) — the
iteration runs on a fraction of one percent of corpus size; only the
initial word count touches the full data.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over lowercase alnum words — the only corpus-wide
    pass; groupBy with map-side combine."""
    words = df.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"),
                lambda t: t != "",
            )
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _merge_pair_udf(left: str, right: str):
    """Replace every adjacent (left, right) occurrence in the symbol
    array with the concatenated symbol — leftmost-first, non-overlapping
    (the published BPE merge rule)."""
    merged = left + right

    @F.pandas_udf("array<string>")
    def _apply(syms: pd.Series) -> pd.Series:
        out = []
        for seq in syms:
            lst = list(seq)
            res = []
            i = 0
            n = len(lst)
            while i < n:
                if i + 1 < n and lst[i] == left and lst[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(lst[i])
                    i += 1
            out.append(res)
        return pd.Series(out)

    return _apply


def _adjacent_pairs(syms) -> F.Column:
    """array of (left, right) structs for adjacent symbol pairs."""
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, 1, n - 1),
        F.slice(syms, 2, n - 1),
        lambda a, b: F.struct(a.alias("left"), b.alias("right")),
    )


def _train_in_driver(
    word_freq: dict[str, int], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Merge loop over an in-memory word-frequency table — identical
    semantics to the distributed rounds (all-adjacent-pair counts,
    argmax on (freq DESC, left, right), leftmost non-overlapping
    apply); equality of the two paths is pinned in tests/test_bpe.py."""
    syms_of = {w: list(w) for w in word_freq}
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in syms_of.items():
            f = word_freq[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (left, right), freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, freq))
        merged = left + right
        for w, syms in syms_of.items():
            res: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms_of[w] = res
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 20,
    checkpoint_every: int = 5,
    word_freqs: DataFrame | None = None,
    driver_vocab_cap: int = 200_000,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns [(rank, left, right,
    pair_freq)] in merge order. Deterministic: pair-frequency ties break
    on (left, right) lexicographic order.

    ``word_freqs`` — optional precomputed (word, freq) frame. Callers
    holding a persisted corpus token frame (common.doc_tokens)
    should pass its groupBy so the corpus-wide tokenize isn't re-paid;
    tokenization must match word_frequencies (lowercase [a-z0-9]+).

    ``driver_vocab_cap`` — the merge loop's whole state is the
    vocabulary-sized word table; when it fits the driver (cap rows,
    a few MB — the bounded-driver-contraction pattern shared with
    Borůvka/k-means seeding), the rounds run in-process instead of
    paying n_merges Spark job floors. Above the cap the distributed
    rounds below run; 0 forces them (used by tests to pin path
    equality)."""
    wf = word_freqs if word_freqs is not None else word_frequencies(df, text_col)
    if driver_vocab_cap > 0:
        head = wf.select("word", "freq").head(driver_vocab_cap + 1)
        if len(head) <= driver_vocab_cap:
            return _train_in_driver(
                {r["word"]: int(r["freq"]) for r in head}, n_merges
            )
    words = (
        wf.select("freq", F.split("word", "").alias("syms"))
        # the word table is VOCABULARY-sized (sublinear in corpus
        # bytes); after the corpus-wide count it no longer needs the
        # scan's partition count — cap the per-round task fan-out at
        # the session's parallelism so each tiny merge round doesn't
        # pay shuffle-partitions' worth of empty-task overhead
        .coalesce(max(df.sparkSession.sparkContext.defaultParallelism // 4, 2))
        .localCheckpoint(eager=True)
    )
    # the eager checkpoint runs the corpus-wide word count exactly ONCE;
    # without it every pre-first-checkpoint round re-executes the corpus
    # scan+groupBy from lineage (measured 51s -> 11s for 12 merges over
    # 100k docs)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs = (
            words.where(F.size("syms") > 1)
            .select("freq", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy("p.left", "p.right")
            .agg(F.sum("freq").alias("pair_freq"))
        )
        top = pairs.orderBy(
            F.col("pair_freq").desc(), F.col("left").asc(), F.col("right").asc()
        ).limit(1).collect()
        if not top:
            break
        row = top[0]
        merges.append((rank, row["left"], row["right"], int(row["pair_freq"])))
        words = words.select(
            "freq",
            _merge_pair_udf(row["left"], row["right"])(F.col("syms")).alias(
                "syms"
            ),
        )
        if (rank + 1) % checkpoint_every == 0:
            # truncate lineage: n_merges chained UDF projections would
            # otherwise re-execute from the scan on every later round
            words = words.localCheckpoint(eager=True)
    return merges


def bpe_encode_udf(merges: list[tuple[int, str, str, int]]):
    """pandas UDF encoding a word into BPE symbols by applying the
    learned merges in rank order (the standard encode: lowest-rank
    applicable merge first, repeatedly)."""
    rank_of = {(m[1], m[2]): m[0] for m in merges}

    @F.pandas_udf("array<string>")
    def _encode(wordss: pd.Series) -> pd.Series:
        out = []
        for word in wordss:
            syms = list(word or "")
            while len(syms) > 1:
                best = None
                best_rank = None
                for i in range(len(syms) - 1):
                    r = rank_of.get((syms[i], syms[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank = r
                        best = i
                if best is None:
                    break
                syms[best : best + 2] = [syms[best] + syms[best + 1]]
            out.append(syms)
        return pd.Series(out)

    return _encode
