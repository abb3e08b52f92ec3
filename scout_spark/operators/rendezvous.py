"""Rendezvous (highest-random-weight) hashing for shard routing.

HRW (Thaler & Ravishankar 1998) assigns each key to the shard with
the highest hash(shard, key) weight. Unlike ``hash(key) mod n``,
adding or removing a shard remaps ONLY the keys whose argmax shard
changed — exactly the keys owned by the added/removed shard, i.e.
~1/n of the keyspace (``tests/test_operators.py::TestRendezvous``
pins minimal disruption). This is the stateless routing layer a
100 TB pipeline needs for sticky cache/shard placement without a
coordination service.

The weight kernel is the repo's cross-engine md5 discipline
(common.md5_32): a 60-bit hex prefix of md5("shard:key"), so a
DuckDB oracle reproduces assignments bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hrw_weight(shard: str, key: Column) -> Column:
    """60-bit md5 weight of (shard, key) — JVM-side, engine-portable."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{shard}:"), key)), 1, 15), 16, 10
    ).cast("long")


def hrw_shard(key: Column, shards: list[str]) -> Column:
    """Row-local argmax over |shards| weight structs — no explode, no
    shuffle. Struct comparison orders by weight first, then shard
    name, so (astronomically unlikely) weight ties break toward the
    lexically larger shard on every engine."""
    return F.greatest(
        *[
            F.struct(hrw_weight(s, key).alias("w"), F.lit(s).alias("s"))
            for s in shards
        ]
    )["s"]
