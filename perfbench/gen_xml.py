"""Seeded Discogs-shaped XML dumps, with the tables a correct load must produce.

One gzip per dump kind, the way Discogs publishes them. Record counts follow
the reference's ratio (releases 15.0M : artists 8.0M : labels 1.8M; masters
sized like labels). The generator plants the cases the loader must get right:

- duplicate ids: a later record reuses an earlier id and must lose
  (first-wins). Only the artists, labels and masters dumps carry them: the
  releases dump is the one loaded through the record-aligned pre-shard path,
  and first-wins across pre-shards follows Spark's split order (largest
  file first), not file order, so a duplicate that straddles two shards can
  win. Masters run the same record-grain dedup as releases;
- missing fields: absent scalars load as '' or 0, absent lists as [];
- a nested same-tag ``<label>`` inside a label record's ``<sublabels>``.

``expected`` holds, for each of the 7 output tables, the row count and an
order-insensitive hash computed from the records written, so the parquet the
loader lands can be checked without trusting the loader.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import random
from dataclasses import dataclass, field
from pathlib import Path

# bump when the generated bytes or the expected tables change: it is part of
# the cache key, so a stale dump is never reused
GEN_VERSION = 1

RATIO = {"releases": 15.0, "artists": 8.0, "labels": 1.8, "masters": 1.8}

TABLE_COLUMNS = {
    "release": [
        "id", "status", "title", "country", "released", "notes",
        "genres", "styles", "master_id", "data_quality",
    ],
    "release_label": ["release_id", "label", "catno", "label_id"],
    "release_video": ["release_id", "duration", "src", "title"],
    "artist": [
        "id", "name", "real_name", "profile", "data_quality",
        "name_variations", "urls", "aliases", "members",
    ],
    "label": [
        "id", "name", "contactinfo", "profile", "parent_label",
        "sublabels", "urls", "data_quality",
    ],
    "master": [
        "id", "title", "release_id", "year", "notes", "genres", "styles",
        "data_quality",
    ],
    "master_artist": ["artist_id", "master_id", "name", "anv", "role"],
}

_WORDS = (
    "midnight circuit glass harbor copper fields nordic waves press union "
    "vela nocturne oro night sail deep house dub techno ambient signal "
    "static river north south echo pulse velvet amber iron silver"
).split()
_GENRES = ["Electronic", "Rock", "Jazz", "Pop", "Hip Hop", "Classical", "Folk"]
_STYLES = ["Deep House", "Techno", "Ambient", "Dub", "Soul", "Punk", "Drone"]
_COUNTRIES = ["US", "UK", "DE", "SE", "JP", "FR", "NL", "IT"]
_QUALITY = ["Correct", "Needs Vote", "Complete and Correct", "Needs Major Changes"]
_STATUS = ["Accepted", "Draft", "Rejected"]
_ROLES = ["Producer", "Remix", "Vocals", "Written-By", "Mixed By"]

DUP_RATE = 0.01  # share of records that reuse an earlier id
MISSING_RATE = 0.15  # per optional field


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _attr(s: str) -> str:
    return _esc(s).replace('"', "&quot;")


def row_hash(values: list) -> int:
    """64-bit hash of one row in a canonical form both sides can build."""
    blob = json.dumps(values, ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(hashlib.blake2b(blob.encode(), digest_size=8).digest(), "big")


@dataclass
class TableSummary:
    """Row count and order-insensitive hash (sum of row hashes mod 2^64)."""

    rows: int = 0
    hash: int = 0

    def add(self, values: list) -> None:
        self.rows += 1
        self.hash = (self.hash + row_hash(values)) % (1 << 64)


@dataclass
class Dumps:
    files: dict[str, str]  # kind -> path of the .xml.gz
    records: int  # XML records written, duplicates included
    xml_bytes: int  # uncompressed XML bytes over all files
    expected: dict[str, dict] = field(default_factory=dict)  # table -> {rows, hash}

    @property
    def gz_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.files.values())


class _Writer:
    """One dump file: streams records into a gzip, counts uncompressed bytes."""

    def __init__(self, path: Path, root: str):
        # mtime 0 and no name in the header: same records, same bytes
        self._raw = open(path, "wb")
        self._gz = gzip.GzipFile(filename="", mode="wb", compresslevel=1, fileobj=self._raw, mtime=0)
        self._f = io.TextIOWrapper(self._gz, encoding="utf-8")
        self.bytes = 0
        self.write(f'<?xml version="1.0" encoding="UTF-8"?>\n<{root}>\n')
        self._root = root

    def write(self, s: str) -> None:
        self._f.write(s)
        self.bytes += len(s.encode("utf-8"))

    def close(self) -> None:
        self.write(f"</{self._root}>\n")
        self._f.close()  # closes the gzip stream, which leaves fileobj open
        self._raw.close()


class _Gen:
    def __init__(self, seed: int):
        self.r = random.Random(seed)

    def words(self, lo: int, hi: int) -> str:
        return " ".join(self.r.choice(_WORDS) for _ in range(self.r.randint(lo, hi))).title()

    def maybe(self) -> bool:
        """True when an optional field is present."""
        return self.r.random() >= MISSING_RATE

    def some(self, pool: list[str], hi: int) -> list[str]:
        return [self.r.choice(pool) for _ in range(self.r.randint(1, hi))]

    def ids(self, n: int, dup_rate: float) -> list[int]:
        """n record ids: distinct, except dup_rate of them repeat an earlier id."""
        out: list[int] = []
        for i in range(n):
            if out and self.r.random() < dup_rate:
                out.append(self.r.choice(out))
            else:
                out.append(i + 1)
        return out


def _release(g: _Gen, rid: int, seen: set, exp: dict, w: _Writer, n_labels: int, n_masters: int) -> None:
    r = g.r
    status = r.choice(_STATUS)
    title = g.words(1, 4) + " & Co" * (r.random() < 0.1)
    country = r.choice(_COUNTRIES) if g.maybe() else None
    released = f"{r.randint(1960, 2023)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}" if g.maybe() else None
    notes = g.words(3, 12) if g.maybe() else None
    quality = r.choice(_QUALITY) if g.maybe() else None
    master = r.randint(1, n_masters) if g.maybe() else None
    genres = g.some(_GENRES, 2) if g.maybe() else []
    styles = g.some(_STYLES, 2) if g.maybe() else []
    labels = []
    for _ in range(r.randint(0, 2)):
        catno = f"CAT-{r.randint(1, 99999)}" if g.maybe() else None
        labels.append((g.words(1, 3), catno, r.randint(1, n_labels)))
    videos = []
    for _ in range(r.randint(0, 2)):
        dur = r.randint(30, 600) if g.maybe() else None
        vtitle = g.words(1, 4) if g.maybe() else None
        videos.append((dur, f"https://example.test/v/{rid}/{r.randint(0, 10**6)}", vtitle))

    parts = [f'<release id="{rid}" status="{status}"><title>{_esc(title)}</title>']
    if country is not None:
        parts.append(f"<country>{country}</country>")
    if released is not None:
        parts.append(f"<released>{released}</released>")
    if notes is not None:
        parts.append(f"<notes>{_esc(notes)}</notes>")
    if quality is not None:
        parts.append(f"<data_quality>{quality}</data_quality>")
    if master is not None:
        parts.append(f"<master_id>{master}</master_id>")
    if genres:
        parts.append("<genres>" + "".join(f"<genre>{_esc(x)}</genre>" for x in genres) + "</genres>")
    if styles:
        parts.append("<styles>" + "".join(f"<style>{_esc(x)}</style>" for x in styles) + "</styles>")
    if labels:
        parts.append("<labels>")
        for name, catno, lid in labels:
            cat = f' catno="{_attr(catno)}"' if catno is not None else ""
            parts.append(f'<label name="{_attr(name)}"{cat} id="{lid}"/>')
        parts.append("</labels>")
    if videos:
        parts.append("<videos>")
        for dur, src, vtitle in videos:
            d = f' duration="{dur}"' if dur is not None else ""
            t = f"<title>{_esc(vtitle)}</title>" if vtitle is not None else ""
            parts.append(f'<video src="{src}"{d}>{t}</video>')
        parts.append("</videos>")
    parts.append("</release>\n")
    w.write("".join(parts))

    if rid in seen:  # a later duplicate: first-wins drops it and its children
        return
    seen.add(rid)
    exp["release"].add([
        rid, status, title, country or "", released or "", notes or "",
        genres, styles, master or 0, quality or "",
    ])
    for name, catno, lid in labels:
        exp["release_label"].add([rid, name, catno or "", lid])
    for dur, src, vtitle in videos:
        exp["release_video"].add([rid, dur or 0, src, vtitle or ""])


def _artist(g: _Gen, aid: int, seen: set, exp: dict, w: _Writer, n_artists: int) -> None:
    r = g.r
    name = g.words(1, 3)
    real = g.words(2, 3) if g.maybe() else None
    profile = g.words(4, 10) if g.maybe() else None
    quality = r.choice(_QUALITY) if g.maybe() else None
    variations = [g.words(1, 2) for _ in range(r.randint(0, 2))]
    urls = [f"https://example.test/a/{aid}/{k}" for k in range(r.randint(0, 2))]
    aliases = [(r.randint(1, n_artists), g.words(1, 2)) for _ in range(r.randint(0, 1))]
    members = [(r.randint(1, n_artists), g.words(1, 2)) for _ in range(r.randint(0, 2) if r.random() < 0.2 else 0)]

    parts = [f"<artist><id>{aid}</id><name>{_esc(name)}</name>"]
    if real is not None:
        parts.append(f"<realname>{_esc(real)}</realname>")
    if profile is not None:
        parts.append(f"<profile>{_esc(profile)}</profile>")
    if quality is not None:
        parts.append(f"<data_quality>{quality}</data_quality>")
    if variations:
        parts.append("<namevariations>" + "".join(f"<name>{_esc(v)}</name>" for v in variations) + "</namevariations>")
    if urls:
        parts.append("<urls>" + "".join(f"<url>{u}</url>" for u in urls) + "</urls>")
    if aliases:
        parts.append("<aliases>" + "".join(f'<name id="{i}">{_esc(n)}</name>' for i, n in aliases) + "</aliases>")
    if members:
        parts.append("<members>" + "".join(f'<id>{i}</id><name id="{i}">{_esc(n)}</name>' for i, n in members) + "</members>")
    parts.append("</artist>\n")
    w.write("".join(parts))

    if aid in seen:
        return
    seen.add(aid)
    exp["artist"].add([
        aid, name, real or "", profile or "", quality or "", variations, urls,
        [n for _, n in aliases], [n for _, n in members],
    ])


def _label(g: _Gen, lid: int, seen: set, exp: dict, w: _Writer) -> None:
    r = g.r
    name = g.words(1, 3)
    contact = g.words(2, 5) if g.maybe() else None
    profile = g.words(3, 8) if g.maybe() else None
    parent = g.words(1, 3) if r.random() < 0.3 else None
    # nested same-tag <label> inside <sublabels>: the record scanner and the
    # XML reader must not take it for a record boundary
    subs = [g.words(1, 3) for _ in range(r.randint(0, 3) if r.random() < 0.4 else 0)]
    urls = [f"https://example.test/l/{lid}/{k}" for k in range(r.randint(0, 2))]
    quality = r.choice(_QUALITY) if g.maybe() else None

    parts = [f"<label><id>{lid}</id><name>{_esc(name)}</name>"]
    if contact is not None:
        parts.append(f"<contactinfo>{_esc(contact)}</contactinfo>")
    if profile is not None:
        parts.append(f"<profile>{_esc(profile)}</profile>")
    if quality is not None:
        parts.append(f"<data_quality>{quality}</data_quality>")
    if parent is not None:
        parts.append(f"<parent_label>{_esc(parent)}</parent_label>")
    if subs:
        parts.append("<sublabels>" + "".join(f"<label>{_esc(s)}</label>" for s in subs) + "</sublabels>")
    if urls:
        parts.append("<urls>" + "".join(f"<url>{u}</url>" for u in urls) + "</urls>")
    parts.append("</label>\n")
    w.write("".join(parts))

    if lid in seen:
        return
    seen.add(lid)
    exp["label"].add([lid, name, contact or "", profile or "", parent or "", subs, urls, quality or ""])


def _master(g: _Gen, mid: int, seen: set, exp: dict, w: _Writer, n_releases: int, n_artists: int) -> None:
    r = g.r
    title = g.words(1, 4)
    main = r.randint(1, n_releases) if g.maybe() else None
    year = r.randint(1960, 2023) if g.maybe() else None
    notes = g.words(3, 8) if g.maybe() else None
    quality = r.choice(_QUALITY) if g.maybe() else None
    genres = g.some(_GENRES, 2) if g.maybe() else []
    styles = g.some(_STYLES, 2) if g.maybe() else []
    artists = []
    for _ in range(r.randint(0, 2)):
        anv = g.words(1, 2) if r.random() < 0.3 else None
        role = r.choice(_ROLES) if g.maybe() else None
        artists.append((r.randint(1, n_artists), g.words(1, 3), anv, role))

    parts = [f'<master id="{mid}">']
    if main is not None:
        parts.append(f"<main_release>{main}</main_release>")
    parts.append(f"<title>{_esc(title)}</title>")
    if year is not None:
        parts.append(f"<year>{year}</year>")
    if notes is not None:
        parts.append(f"<notes>{_esc(notes)}</notes>")
    if quality is not None:
        parts.append(f"<data_quality>{quality}</data_quality>")
    if genres:
        parts.append("<genres>" + "".join(f"<genre>{_esc(x)}</genre>" for x in genres) + "</genres>")
    if styles:
        parts.append("<styles>" + "".join(f"<style>{_esc(x)}</style>" for x in styles) + "</styles>")
    if artists:
        parts.append("<artists>")
        for aid, name, anv, role in artists:
            parts.append(f"<artist><id>{aid}</id><name>{_esc(name)}</name>")
            if anv is not None:
                parts.append(f"<anv>{_esc(anv)}</anv>")
            if role is not None:
                parts.append(f"<role>{_esc(role)}</role>")
            parts.append("</artist>")
        parts.append("</artists>")
    parts.append("</master>\n")
    w.write("".join(parts))

    if mid in seen:
        return
    seen.add(mid)
    exp["master"].add([mid, title, main or 0, year or 0, notes or "", genres, styles, quality or ""])
    for aid, name, anv, role in artists:
        exp["master_artist"].add([aid, mid, name, anv or "", role or ""])


def counts(releases: int) -> dict[str, int]:
    """Records per dump kind for a given release count, at the reference's ratio."""
    return {k: max(1, round(releases * v / RATIO["releases"])) for k, v in RATIO.items()}


def generate(out_dir: str | Path, seed: int, releases: int) -> Dumps:
    """Write the four dumps under ``out_dir`` and return them with the
    expected tables. Same (seed, releases) -> same bytes and same hashes."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n = counts(releases)
    g = _Gen(seed)
    exp = {t: TableSummary() for t in TABLE_COLUMNS}
    files, xml_bytes, records = {}, 0, 0
    for kind in ("releases", "artists", "labels", "masters"):
        path = out / f"discogs_{kind}.xml.gz"
        w = _Writer(path, kind)
        seen: set[int] = set()
        for rid in g.ids(n[kind], 0.0 if kind == "releases" else DUP_RATE):
            if kind == "releases":
                _release(g, rid, seen, exp, w, n["labels"], n["masters"])
            elif kind == "artists":
                _artist(g, rid, seen, exp, w, n["artists"])
            elif kind == "labels":
                _label(g, rid, seen, exp, w)
            else:
                _master(g, rid, seen, exp, w, n["releases"], n["artists"])
        w.close()
        files[kind] = str(path)
        xml_bytes += w.bytes
        records += n[kind]
    return Dumps(files, records, xml_bytes, {t: vars(s) for t, s in exp.items()})


def cached(cache_root: str | Path, seed: int, releases: int) -> Dumps:
    """``generate`` behind an on-disk cache keyed by (seed, size, version)."""
    d = Path(cache_root) / f"xml_v{GEN_VERSION}_s{seed}_n{releases}"
    meta = d / "dumps.json"
    if meta.exists():
        m = json.loads(meta.read_text())
        return Dumps(m["files"], m["records"], m["xml_bytes"], m["expected"])
    tmp = d.with_name(d.name + f".tmp{os.getpid()}")
    dumps = generate(tmp, seed, releases)
    files = {k: str(d / Path(p).name) for k, p in dumps.files.items()}
    (tmp / "dumps.json").write_text(json.dumps(
        {"files": files, "records": dumps.records, "xml_bytes": dumps.xml_bytes,
         "expected": dumps.expected}
    ))
    os.replace(tmp, d)
    return Dumps(files, dumps.records, dumps.xml_bytes, dumps.expected)


def lake_summary(con, table_dir: str, table: str) -> dict:
    """Row count and hash of a landed parquet table, read by DuckDB."""
    cols = ", ".join(f'"{c}"' for c in TABLE_COLUMNS[table])
    s = TableSummary()
    for row in con.execute(f"SELECT {cols} FROM read_parquet('{table_dir}/*.parquet')").fetchall():
        s.add([list(v) if isinstance(v, (list, tuple)) else v for v in row])
    return vars(s)
