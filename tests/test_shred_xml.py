"""XML source + shred operators: end-to-end dump → 7 tables.

Fixtures are synthetic discogs-shaped XML (tests/fixtures/*.xml) covering:
duplicate ids (first-wins), missing optional fields (default-fill), XML
entities/unicode, shared labels across releases (quirk Q3), video titles
(Q2), master year/genres/styles (Q1), artist namevariations vs aliases vs
members (Q4), pretty-printed whitespace (Q8).
"""

from __future__ import annotations

import gzip
import shutil
from pathlib import Path

import pytest

from discogs_load_spark.operators.shred import first_wins_records, shred
from discogs_load_spark.schemas import OUTPUT_SCHEMAS
from discogs_load_spark.sources.xml_source import (
    read_dump,
    read_dump_python,
    sniff_root_tag,
)

FIXTURES = Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module", params=["native", "python"])
def reader(request):
    def _read(spark, path, kind=None):
        if request.param == "native":
            return read_dump(spark, str(path), kind)
        return read_dump_python(spark, str(path), kind)

    _read.kind = request.param
    return _read


def _shred(raw, kind):
    """The two shred steps: record-grain first-wins, then the flatten."""
    return shred(first_wins_records(raw, kind), kind)


def _rows(df, *order_cols):
    return [r.asDict() for r in df.orderBy(*order_cols).collect()]


def test_sniff_root_tag(tmp_path):
    assert sniff_root_tag(str(FIXTURES / "releases.xml")) == "releases"
    assert sniff_root_tag(str(FIXTURES / "artists.xml")) == "artists"
    assert sniff_root_tag(str(FIXTURES / "labels.xml")) == "labels"
    assert sniff_root_tag(str(FIXTURES / "masters.xml")) == "masters"
    gz = tmp_path / "releases.xml.gz"
    with open(FIXTURES / "releases.xml", "rb") as f_in, gzip.open(gz, "wb") as f_out:
        shutil.copyfileobj(f_in, f_out)
    assert sniff_root_tag(str(gz)) == "releases"
    bad = tmp_path / "bad.xml"
    bad.write_text("<unknown><x/></unknown>")
    with pytest.raises(ValueError, match="unrecognized root"):
        sniff_root_tag(str(bad))


def test_shred_releases(spark, reader):
    tables = _shred(reader(spark, FIXTURES / "releases.xml"), "releases")
    release = _rows(tables["release"], "id")

    # 4 records, one duplicate id → 3 rows, first occurrence wins
    assert [r["id"] for r in release] == [101, 102, 103]
    r101 = release[0]
    assert r101["title"] == "Midnight Circuit"  # not the DUPLICATE record
    assert r101["status"] == "Accepted"
    assert r101["genres"] == ["Electronic", "House"]
    assert r101["styles"] == ["Deep House"]
    assert r101["master_id"] == 9001
    assert "&" in r101["notes"] and "Röyksopp" in r101["notes"]  # entity unescape

    # default-fill: absent scalar → ''/0, absent array → []
    r103 = release[2]
    assert r103["released"] == "2000"  # date-ish string stays TEXT
    assert r103["master_id"] == 0
    assert r103["genres"] == [] and r103["styles"] == []
    r102 = release[1]
    assert r102["country"] == "" and r102["data_quality"] == ""

    # Q3: BOTH releases referencing label 501 keep their link
    rl = _rows(tables["release_label"], "release_id", "label_id")
    assert [(r["release_id"], r["label_id"], r["catno"]) for r in rl] == [
        (101, 501, "NW-001"),
        (101, 502, "MP-77"),
        (102, 501, "NW-002"),
    ]

    # Q2: video title parsed from XML, not hard-set ''
    rv = _rows(tables["release_video"], "release_id", "src")
    assert len(rv) == 2
    assert rv[0]["title"] == "Midnight Circuit (Official)"
    assert rv[0]["duration"] == 221
    assert all(r["release_id"] == 101 for r in rv)


def test_shred_artists(spark, reader):
    tables = _shred(reader(spark, FIXTURES / "artists.xml"), "artists")
    artists = _rows(tables["artist"], "id")
    assert [a["id"] for a in artists] == [201, 202, 203]
    a201 = artists[0]
    # Q4: namevariations / aliases / members each from their own element
    assert a201["name_variations"] == ["V. Nocturne", "Vela N."]
    assert a201["aliases"] == ["Night Sail"]
    assert a201["members"] == []
    assert a201["real_name"] == "Astrid Dahlbäck"
    a202 = artists[1]
    assert a202["members"] == ["Vela Nocturne", "Oro Pekka"]
    assert a202["aliases"] == []
    # default-fill on missing scalars
    assert a202["real_name"] == "" and a202["profile"] == ""


def test_shred_labels(spark, reader):
    tables = _shred(reader(spark, FIXTURES / "labels.xml"), "labels")
    labels = _rows(tables["label"], "id")
    assert [l["id"] for l in labels] == [501, 502, 503]
    l501 = labels[0]
    assert l501["sublabels"] == ["Nordic Waves Digital", "NW Classics"]
    assert l501["urls"] == ["https://example.test/nw"]
    assert "Stockholm" in l501["contactinfo"]
    assert labels[1]["parent_label"] == "Nordic Waves"
    assert labels[2]["sublabels"] == [] and labels[2]["urls"] == []


def test_shred_masters(spark, reader):
    tables = _shred(reader(spark, FIXTURES / "masters.xml"), "masters")
    masters = _rows(tables["master"], "id")
    assert [m["id"] for m in masters] == [9001, 9002]
    m1 = masters[0]
    # Q1: year/genres/styles ARE parsed (reference always writes 0/''/{})
    assert m1["year"] == 1999
    assert m1["genres"] == ["Electronic"]
    assert m1["styles"] == ["Deep House", "Dub Techno"]
    assert m1["release_id"] == 101
    assert masters[1]["year"] == 0 and masters[1]["genres"] == []

    ma = _rows(tables["master_artist"], "master_id", "artist_id")
    assert [(r["artist_id"], r["master_id"], r["anv"], r["role"]) for r in ma] == [
        (201, 9001, "V. Nocturne", "Producer"),
        (203, 9001, "", "Remix"),
    ]


def test_output_schemas_match(spark, reader):
    """Every shredded table conforms exactly to the declared typed schema."""
    for kind, fixture in [
        ("releases", "releases.xml"),
        ("artists", "artists.xml"),
        ("labels", "labels.xml"),
        ("masters", "masters.xml"),
    ]:
        tables = _shred(reader(spark, FIXTURES / fixture), kind)
        for name, df in tables.items():
            want = OUTPUT_SCHEMAS[name]
            got = df.schema
            assert [f.name for f in got.fields] == [f.name for f in want.fields], name
            assert [f.dataType for f in got.fields] == [
                f.dataType for f in want.fields
            ], name


def test_gzip_roundtrip(spark, tmp_path, reader):
    """A1: gzipped input parses identically to plain XML."""
    gz = tmp_path / "releases.xml.gz"
    with open(FIXTURES / "releases.xml", "rb") as f_in, gzip.open(gz, "wb") as f_out:
        shutil.copyfileobj(f_in, f_out)
    plain = _shred(reader(spark, FIXTURES / "releases.xml"), "releases")["release"]
    zipped = _shred(reader(spark, gz, "releases"), "releases")["release"]
    assert _rows(plain, "id") == _rows(zipped, "id")


def test_native_and_python_readers_agree(spark):
    """The two readers are interchangeable implementations of A3."""
    for kind, fixture in [("releases", "releases.xml"), ("masters", "masters.xml")]:
        native = read_dump(spark, str(FIXTURES / fixture), kind)
        fallback = read_dump_python(spark, str(FIXTURES / fixture), kind)
        n = {tuple(str(v) for v in r) for r in native.collect()}
        p = {tuple(str(v) for v in r) for r in fallback.collect()}
        assert n == p


REFERENCE_DATA = Path("/root/reference/discogs-load/test_data")
_ALL_KINDS = ["releases", "artists", "labels", "masters"]


@pytest.mark.parametrize("kind", _ALL_KINDS)
def test_readers_agree_all_kinds(spark, kind):
    """read_dump ≡ read_dump_python row-for-row on every dump kind
    (engine fixtures)."""
    native = read_dump(spark, str(FIXTURES / f"{kind}.xml"), kind)
    fallback = read_dump_python(spark, str(FIXTURES / f"{kind}.xml"), kind)
    n = sorted(tuple(str(v) for v in r) for r in native.collect())
    p = sorted(tuple(str(v) for v in r) for r in fallback.collect())
    assert n == p


@pytest.mark.parametrize("kind", _ALL_KINDS)
@pytest.mark.skipif(
    not REFERENCE_DATA.exists(), reason="reference test_data not mounted"
)
def test_readers_agree_on_reference_dumps(spark, kind):
    """Parity on the reference's own pretty-printed sample dumps — the
    whitespace shape that breaks the reference's array states (quirks Q8,
    artist.rs:211/230/249): both our readers must parse them identically,
    raw and gzipped, including the populated arrays the reference loses."""
    raw = REFERENCE_DATA / f"{kind}.xml"
    native = read_dump(spark, str(raw), kind)
    fallback = read_dump_python(spark, str(raw), kind)
    n = sorted(tuple(str(v) for v in r) for r in native.collect())
    p = sorted(tuple(str(v) for v in r) for r in fallback.collect())
    assert n == p
    assert len(n) > 0
    gz = sorted(
        tuple(str(v) for v in r)
        for r in read_dump_python(
            spark, str(REFERENCE_DATA / f"{kind}.xml.gz"), kind
        ).collect()
    )
    assert gz == p


@pytest.mark.skipif(
    not REFERENCE_DATA.exists(), reason="reference test_data not mounted"
)
def test_shred_reference_releases_counts(spark):
    """SURVEY §5 fixture cardinalities: 3 releases, 4 label links, 26
    videos — the same rows the reference's CI smoke loads into Postgres."""
    tables = _shred(read_dump(spark, str(REFERENCE_DATA / "releases.xml")), "releases")
    assert tables["release"].count() == 3
    assert tables["release_label"].count() == 4
    assert tables["release_video"].count() == 26


@pytest.mark.parametrize("packing", ["gzip", "tar"])
def test_sniff_gz_closes_its_files(tmp_path, packing):
    """Closing the opened stream closes the file under it, on the plain
    gzip path and on the gzipped-tar path alike."""
    import gc
    import tarfile
    import warnings

    gz = tmp_path / "releases.xml.gz"
    if packing == "gzip":
        with open(FIXTURES / "releases.xml", "rb") as f_in, gzip.open(gz, "wb") as f_out:
            shutil.copyfileobj(f_in, f_out)
    else:
        with tarfile.open(gz, "w:gz") as t:
            t.add(FIXTURES / "releases.xml", arcname="releases.xml")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert sniff_root_tag(str(gz)) == "releases"
        gc.collect()
    leaks = [w for w in caught if issubclass(w.category, ResourceWarning)]
    assert not leaks, [str(w.message) for w in leaks]
