"""Discogs XML dump source (reference: main.rs:42-102, A1-A3).

Two readers with identical output:

- :func:`read_dump` — Spark's native XML data source (Spark 4+): distributed,
  whole-stage-codegen'd parsing, splittable for uncompressed/bz2 inputs.
- :func:`read_dump_python` — ``mapInPandas`` over a DataFrame of file paths,
  each task streaming one file through ``xml.etree.iterparse``. This is the
  UDTF shape of the reference FSM (SURVEY §2 A3) and the referee the tests
  check the native source against; it parallelizes across files.

Format dispatch (A2, main.rs:51-87): the reference reads each file twice —
pass 1 to sniff the root element, pass 2 to parse. :func:`sniff_root_tag`
reads only the first 64 KB driver-side instead.

Gzip is handled transparently (Hadoop codec / gzip module). One ``.gz`` file
is unsplittable → one task; at scale, prefer the dumps split into multiple
files (or bz2/zstd-seekable) so tasks parallelize. See ARCHITECTURE.md.
"""

from __future__ import annotations

import gzip
import io
import re

from pyspark.sql import DataFrame, SparkSession

from ..schemas import ROW_TAGS, XML_SCHEMAS

_ROOT_TAGS = {"releases", "artists", "labels", "masters"}


def _open_maybe_gzip(path: str):
    """Open raw, gzip, or gzipped-tar XML.

    The tar case is reference parity: two of the reference's own test_data
    dumps (artists.xml.gz, masters.xml.gz) are actually ``tar czf`` outputs,
    not plain gzip. The reference survives them only because quick-xml
    silently scans past the 512-byte tar header to the first ``<``
    (main.rs:96-102 has no format check); a strict XML parser rejects the
    NUL bytes, so here the member is extracted explicitly.

    Closing the returned stream closes every file it opened.
    """
    with open(path, "rb") as f:
        head = f.read(2)
    if head != b"\x1f\x8b":
        return open(path, "rb")
    with gzip.open(path, "rb") as g:
        is_tar = g.peek(262)[257:262] == b"ustar"
    if not is_tar:
        return gzip.open(path, "rb")  # opened by path: it owns the file
    import tarfile

    t = tarfile.open(path, mode="r:gz")
    member = t.extractfile(next(m for m in t if m.isfile()))
    # the member stream does not own its archive: close both together
    close_member = member.close
    member.close = lambda: (close_member(), t.close())
    return member


def sniff_root_tag(path: str) -> str:
    """Detect the dump kind from the first root element (A2).

    Single 64 KB driver-side read — not the reference's full first pass
    (main.rs:44-87 re-opens and re-reads the whole file).
    """
    with _open_maybe_gzip(path) as f:
        head = f.read(65536).decode("utf-8", errors="replace")
    # a prologue <!-- comment --> may legally contain element text (e.g. a
    # commented-out record sample); strip complete comments and any
    # unterminated trailing one before looking for the root element
    head = re.sub(r"<!--.*?(?:-->|$)", "", head, flags=re.S)
    for m in re.finditer(r"<([A-Za-z_][\w.-]*)", head):
        tag = m.group(1)
        if tag.startswith("?") or tag.startswith("!"):
            continue
        if tag in _ROOT_TAGS:
            return tag
        # first real element that is not a known root → unknown dump
        raise ValueError(f"unrecognized root element <{tag}> in {path}")
    raise ValueError(f"no XML element found in first 64KB of {path}")


def read_dump(
    spark: SparkSession, path: str | list[str], kind: str | None = None
) -> DataFrame:
    """Read a Discogs dump into its nested record shape with the native XML
    source. ``kind`` is one of releases/artists/labels/masters (sniffed from
    the file when omitted). ``path`` may be one file, a directory, or a
    list of shard files (one scan over all of them — no union plan)."""
    if kind is None:
        kind = sniff_root_tag(path if isinstance(path, str) else path[0])
    if kind not in _ROOT_TAGS:
        raise ValueError(f"unknown dump kind: {kind}")
    reader = (
        spark.read.format("xml")
        .option("rowTag", ROW_TAGS[kind])
        .schema(XML_SCHEMAS[kind])
    )
    return reader.load(path)


# ---------------------------------------------------------------------------
# Python referee reader: mapInPandas UDTF over file paths
# ---------------------------------------------------------------------------

def _iter_records(path: str, row_tag: str):
    """Stream (tag, element) records from one (possibly gzipped) XML file."""
    import xml.etree.ElementTree as ET

    with _open_maybe_gzip(path) as raw:
        stream = io.BufferedReader(raw, buffer_size=1 << 20)
        context = ET.iterparse(stream, events=("start", "end"))
        # depth-track so a nested element with the same tag (e.g. <label>
        # inside <sublabels> of a <label> record) is not mistaken for a record
        depth = 0
        for event, elem in context:
            if event == "start":
                depth += 1
                continue
            depth -= 1
            if depth == 1 and elem.tag == row_tag:
                yield elem
                elem.clear()  # O(record) memory, like the reference FSM


def _texts(elem, parent: str, child: str):
    """{'child': [texts]} for a container element, None when absent —
    matching the native XML source's NULL for a missing struct."""
    p = elem.find(parent)
    if p is None:
        return None
    return {child: [c.text or "" for c in p.findall(child)]}


def _int(v, default=None):
    try:
        return int(v)
    except (TypeError, ValueError):
        return default


def _release_record(e) -> dict:
    labels_el = e.find("labels")
    labels = (
        None
        if labels_el is None
        else {
            "label": [
                {
                    "_name": l.get("name"),
                    "_catno": l.get("catno"),
                    "_id": _int(l.get("id")),
                }
                for l in labels_el.findall("label")
            ]
        }
    )
    videos_el = e.find("videos")
    videos = (
        None
        if videos_el is None
        else {
            "video": [
                {
                    "_src": v.get("src"),
                    "_duration": _int(v.get("duration")),
                    "title": v.findtext("title"),
                }
                for v in videos_el.findall("video")
            ]
        }
    )
    return {
        "_id": _int(e.get("id")),
        "_status": e.get("status"),
        "title": e.findtext("title"),
        "country": e.findtext("country"),
        "released": e.findtext("released"),
        "notes": e.findtext("notes"),
        "master_id": _int(e.findtext("master_id")),
        "data_quality": e.findtext("data_quality"),
        "genres": _texts(e, "genres", "genre"),
        "styles": _texts(e, "styles", "style"),
        "labels": labels,
        "videos": videos,
    }


def _artist_record(e) -> dict:
    return {
        "id": _int(e.findtext("id")),
        "name": e.findtext("name"),
        "realname": e.findtext("realname"),
        "profile": e.findtext("profile"),
        "data_quality": e.findtext("data_quality"),
        "namevariations": _texts(e, "namevariations", "name"),
        "urls": _texts(e, "urls", "url"),
        "aliases": _texts(e, "aliases", "name"),
        "members": _texts(e, "members", "name"),
    }


def _label_record(e) -> dict:
    return {
        "id": _int(e.findtext("id")),
        "name": e.findtext("name"),
        "contactinfo": e.findtext("contactinfo"),
        "profile": e.findtext("profile"),
        "parent_label": e.findtext("parentLabel") or e.findtext("parent_label"),
        "data_quality": e.findtext("data_quality"),
        "sublabels": _texts(e, "sublabels", "label"),
        "urls": _texts(e, "urls", "url"),
    }


def _master_record(e) -> dict:
    artists_el = e.find("artists")
    artists = (
        None
        if artists_el is None
        else {
            "artist": [
                {
                    "id": _int(a.findtext("id")),
                    "name": a.findtext("name"),
                    "anv": a.findtext("anv"),
                    "role": a.findtext("role"),
                }
                for a in artists_el.findall("artist")
            ]
        }
    )
    return {
        "_id": _int(e.get("id")),
        "main_release": _int(e.findtext("main_release")),
        "title": e.findtext("title"),
        "year": _int(e.findtext("year")),
        "notes": e.findtext("notes"),
        "data_quality": e.findtext("data_quality"),
        "genres": _texts(e, "genres", "genre"),
        "styles": _texts(e, "styles", "style"),
        "artists": artists,
    }


_RECORD_FN = {
    "releases": _release_record,
    "artists": _artist_record,
    "labels": _label_record,
    "masters": _master_record,
}


def read_dump_python(
    spark: SparkSession, paths: list[str] | str, kind: str | None = None
) -> DataFrame:
    """Referee reader: one streaming-XML task per input file.

    Same output schema as :func:`read_dump`. Scales across files (a dump
    split into N shards parses with N-way parallelism); within one file it is
    single-stream like the reference (main.rs:96-102), but O(record) memory.
    """
    if isinstance(paths, str):
        paths = [paths]
    if kind is None:
        kind = sniff_root_tag(paths[0])
    schema = XML_SCHEMAS[kind]
    row_tag = ROW_TAGS[kind]
    record_fn = _RECORD_FN[kind]

    from ..session import ensure_package_on_executors, local_frame

    ensure_package_on_executors(spark)
    paths_df = local_frame(spark, [(p,) for p in paths], "path string")

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for path in pdf["path"]:
                rows = [record_fn(e) for e in _iter_records(path, row_tag)]
                # chunk so one huge file does not build one giant Arrow batch
                for i in range(0, len(rows), 10000):
                    yield pd.DataFrame(rows[i : i + 10000])

    # repartition so each file gets its own task
    return paths_df.repartition(len(paths)).mapInPandas(parse, schema=schema)
