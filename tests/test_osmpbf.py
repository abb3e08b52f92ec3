"""Native OSM PBF ingest (SURVEY.md §2 S1): reader/writer round-trips.

The writer (osmpbf_write) and reader (osmpbf) are independent wire-level
implementations; agreement on delta/zigzag/granularity-coded values is
the correctness evidence. The gazetteer test closes the reference's
actual ingest loop: .osm.pbf → features → build_gazetteer
(reference scripts/build_gazetteer.py:159-180 via QuackOSM).
"""

from __future__ import annotations

import pytest

from scout_spark.sources import osmpbf
from scout_spark.sources.osmpbf_write import write_pbf

NODES = [
    (1, 51.5074, -0.1278, {"name": "London", "amenity": "townhall"}),
    (2, 51.5080, -0.1280, {}),
    (3, 51.5090, -0.1290, {}),
    (4, 51.5100, -0.1300, {}),
    # negative coordinates + id jump stress zigzag/delta coding
    (9_000_000_001, -33.8688, 151.2093, {"name": "Sydney", "tourism": "attraction"}),
]
WAYS = [
    (100, [2, 3, 4], {"shop": "bakery", "name": "Test St Bakery"}),
    (101, [2, 3, 4, 2], {"building": "yes"}),  # closed ring; not a POI class
]
RELS = [
    (
        500,
        [("node", "admin_centre", 1), ("way", "outer", 100)],
        {"type": "boundary", "boundary": "administrative",
         "admin_level": "6", "name": "Testshire"},
    )
]


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf"
    write_pbf(str(p), NODES, WAYS, RELS)
    return str(p)


def test_blob_scan_kinds(pbf_path):
    refs = osmpbf.scan_blobs(pbf_path)
    assert [r.kind for r in refs] == ["OSMHeader", "OSMData", "OSMData", "OSMData"]
    assert all(r.size > 0 for r in refs)


def test_multi_blob_chunking(tmp_path):
    p = str(tmp_path / "many.osm.pbf")
    nodes = [(i, i * 1e-4, -i * 1e-4, {}) for i in range(1, 25_001)]
    n_blobs = write_pbf(p, nodes, blob_size=8000)
    assert n_blobs == 4  # ceil(25000/8000)
    total = sum(
        len(osmpbf.decode_primitive_block(osmpbf._blob_payload(_read(p, r)))[0])
        for r in osmpbf.scan_blobs(p)
        if r.kind == "OSMData"
    )
    assert total == 25_000


def _read(path, ref):
    with open(path, "rb") as f:
        f.seek(ref.offset)
        return f.read(ref.size)


def test_nodes_roundtrip(spark, pbf_path):
    rows = {
        r["id"]: r for r in osmpbf.read_nodes(spark, pbf_path).collect()
    }
    assert len(rows) == len(NODES)
    for nid, lat, lon, tags in NODES:
        got = rows[nid]
        # PBF stores integer 100-nanodegree units: exact to 1e-7 deg
        assert got["lat"] == pytest.approx(lat, abs=1e-7)
        assert got["lon"] == pytest.approx(lon, abs=1e-7)
        assert dict(got["tags"] or {}) == tags


def test_ways_and_relations_roundtrip(spark, pbf_path):
    ways = {r["id"]: r for r in osmpbf.read_ways(spark, pbf_path).collect()}
    assert list(ways[100]["refs"]) == [2, 3, 4]
    assert dict(ways[100]["tags"]) == WAYS[0][2]
    assert list(ways[101]["refs"]) == [2, 3, 4, 2]
    rels = {r["id"]: r for r in osmpbf.read_relations(spark, pbf_path).collect()}
    m = [(x["member_type"], x["role"], x["ref"]) for x in rels[500]["members"]]
    assert m == [("node", "admin_centre", 1), ("way", "outer", 100)]
    assert dict(rels[500]["tags"])["name"] == "Testshire"


def test_way_centroids_drop_closing_vertex(spark, pbf_path):
    nodes = osmpbf.read_nodes(spark, pbf_path)
    ways = osmpbf.read_ways(spark, pbf_path)
    cents = {r["id"]: r for r in osmpbf.way_centroids(nodes, ways).collect()}
    exp_lat = (51.5080 + 51.5090 + 51.5100) / 3
    # open way and closed ring over the same 3 distinct vertices agree
    assert cents[100]["lat"] == pytest.approx(exp_lat, abs=1e-7)
    assert cents[101]["lat"] == pytest.approx(exp_lat, abs=1e-7)


def test_pbf_features_shape(spark, pbf_path):
    feats = osmpbf.pbf_features(spark, pbf_path)
    got = {r["feature_id"]: r for r in feats.collect()}
    # only tagged nodes become features; all ways do
    assert set(got) == {"node/1", "node/9000000001", "way/100", "way/101",
                       "relation/500"}
    r = got["relation/500"]  # bbox over node 1 + way 100's nodes (2,3,4)
    assert r["minx"] == pytest.approx(-0.1300, abs=1e-7)
    assert r["maxx"] == pytest.approx(-0.1278, abs=1e-7)
    assert r["miny"] == pytest.approx(51.5074, abs=1e-7)
    assert r["maxy"] == pytest.approx(51.5100, abs=1e-7)
    assert dict(got["node/1"]["tags"])["amenity"] == "townhall"


def test_pbf_to_gazetteer_end_to_end(spark, pbf_path, tmp_path):
    """The reference's ingest loop, natively: PBF → features → gazetteer."""
    from scout_spark.etl.gazetteer import build_pois

    feats = osmpbf.pbf_features(spark, pbf_path)
    pois = build_pois(feats)
    names = {r["name_local"] for r in pois.collect()}
    assert {"London", "Sydney", "Test St Bakery"} <= names
    assert not any("building" in (n or "") for n in names)  # way 101 filtered
    from scout_spark.etl.gazetteer import build_admin
    admin = build_admin(feats).collect()
    assert [r["name_local"] for r in admin] == ["Testshire"]
    assert admin[0]["admin_level"] == 6
    assert admin[0]["minx"] == pytest.approx(-0.1300, abs=1e-7)


def test_build_gazetteer_cli(spark, pbf_path, tmp_path):
    """scripts/build_gazetteer.py: PBF input + bbox + tag filter."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "build_cli", "scripts/build_gazetteer.py"
    )
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    out = str(tmp_path / "gaz")
    # bbox covering only London; require the amenity tag
    args = cli.parse_args(
        [pbf_path, "--out", out, "--overwrite", "--bbox=-1,51,0,52",
         "--require-tag", "amenity"]
    )
    paths = cli.build(args)
    pois = spark.read.parquet(paths["pois"])
    names = [r["name_local"] for r in pois.collect()]
    assert names == ["London"]  # Sydney outside bbox; bakery lacks amenity


# ------------------------------------------------ property-based wire fuzz
from hypothesis import given, settings
from hypothesis import strategies as st

_grid = st.integers(min_value=-85_0000000, max_value=85_0000000)
_tagtext = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=12,
)
_tagkey = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    min_size=1,
    max_size=12,
)
_node = st.tuples(
    st.integers(min_value=-(10**15), max_value=10**15),  # id (zigzag stress)
    _grid.map(lambda n: n * 1e-7),                       # lat on the wire grid
    _grid.map(lambda n: n * 1e-7),                       # lon
    st.dictionaries(_tagkey, _tagtext, max_size=3),
)


@settings(max_examples=25, deadline=None)
@given(nodes=st.lists(_node, max_size=30))
def test_pbf_wire_roundtrip_fuzz(tmp_path_factory, nodes):
    """Arbitrary ids (negative, 2^50-scale), grid coordinates, and
    unicode tags survive write → scan → decode bit-faithfully."""
    # unique ids: a PBF file may not repeat entity ids
    seen, uniq = set(), []
    for n in nodes:
        if n[0] not in seen:
            seen.add(n[0])
            uniq.append(n)
    p = str(tmp_path_factory.mktemp("fuzz") / "f.osm.pbf")
    write_pbf(p, uniq, blob_size=7)  # force multi-blob on bigger lists
    decoded = []
    for ref in osmpbf.scan_blobs(p):
        if ref.kind != "OSMData":
            continue
        with open(p, "rb") as f:
            f.seek(ref.offset)
            blob = f.read(ref.size)
        decoded += osmpbf.decode_primitive_block(osmpbf._blob_payload(blob))[0]
    assert len(decoded) == len(uniq)
    for (nid, lat, lon, tags), (gid, glat, glon, gtags) in zip(uniq, decoded):
        assert gid == nid
        assert abs(glat - lat) < 5e-8 and abs(glon - lon) < 5e-8
        assert gtags == tags


def test_empty_tag_key_rejected(tmp_path):
    """String-table index 0 is the DenseNodes delimiter — the writer
    must refuse the unrepresentable empty key (found by hypothesis)."""
    with pytest.raises(ValueError, match="non-empty"):
        write_pbf(str(tmp_path / "x.osm.pbf"), [(1, 0.0, 0.0, {"": "v"})])
