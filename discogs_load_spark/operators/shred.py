"""Shred operators: nested Discogs records → the 7 flat output tables.

The Spark duals of the reference's hand-written FSM extractors
(release.rs:153-371, artist.rs:102-267, label.rs:97-249, master.rs:135-285):
parent rows are projection + cast + default-fill; child tables are
``explode``. Two steps: :func:`first_wins_records` resolves duplicate ids
first-wins (A11) with an explicit order, then :func:`shred` flattens the
surviving records into the kind's tables.

Default-fill semantics (reference structs init to 0/''/[] —
release.rs:74-88): absent scalar → ''/0, absent array → []. This is the
engine's declared behavior; quirks the engine deliberately does NOT
replicate are listed in quirks.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .relational import first_wins_dedup


def _s(col: str) -> Column:  # default-fill string
    return F.coalesce(F.col(col), F.lit(""))


def _i(col: str) -> Column:  # default-fill int
    return F.coalesce(F.col(col).cast("int"), F.lit(0))


def _arr(col: str) -> Column:  # default-fill array<string>
    return F.coalesce(F.col(col), F.array().cast("array<string>"))


# the record id of each dump kind: an attribute on releases/masters, a
# child element on artists/labels
_ID = {"releases": "_id", "masters": "_id", "artists": "id", "labels": "id"}


def first_wins_records(raw: DataFrame, kind: str) -> DataFrame:
    """Record-grain first-wins dedup (A11): one record per id, the first in
    ingest order; records without an id are dropped.

    Ingest order is file order within a partition, partition id across files
    — the deterministic analogue of the reference's arrival order. Dedup runs
    before any table is derived, so child tables carry only the WINNING
    occurrence's children: a losing duplicate's labels/videos must not leak
    into the child tables its parent was dropped from (they'd dangle or
    double). Catalyst keeps only the id, the order column and the consumed
    fields through the window, so the XML scan still prunes columns.
    """
    key = _ID[kind]
    return first_wins_dedup(
        raw.withColumn("__ord", F.monotonically_increasing_id()).filter(
            F.col(key).isNotNull()
        ),
        [key],
        [F.col("__ord")],
    ).drop("__ord")


def shred_releases(records: DataFrame) -> dict[str, DataFrame]:
    """releases records → release, release_label, release_video.

    Parity notes (reference release.rs):
    - attribute access by NAME, not position (deviation from
      release.rs:157-163 positional reads — quirks.py Q5);
    - release_video.title comes from the XML (reference hard-sets ''
      — release.rs:362, quirks.py Q2); fill '' only when absent;
    - every label link is kept (reference's per-batch HashMap keyed by
      label_id drops repeats — release.rs:330, quirks.py Q3).
    """
    release = records.select(
        F.col("_id").cast("int").alias("id"),
        _s("_status").alias("status"),
        _s("title").alias("title"),
        _s("country").alias("country"),
        _s("released").alias("released"),
        _s("notes").alias("notes"),
        _arr("genres.genre").alias("genres"),
        _arr("styles.style").alias("styles"),
        _i("master_id").alias("master_id"),
        _s("data_quality").alias("data_quality"),
    )

    labels_exploded = records.select(
        F.col("_id").cast("int").alias("release_id"),
        F.explode("labels.label").alias("l"),
    )
    release_label = labels_exploded.select(
        "release_id",
        F.coalesce(F.col("l._name"), F.lit("")).alias("label"),
        F.coalesce(F.col("l._catno"), F.lit("")).alias("catno"),
        F.coalesce(F.col("l._id").cast("int"), F.lit(0)).alias("label_id"),
    )

    videos_exploded = records.select(
        F.col("_id").cast("int").alias("release_id"),
        F.explode("videos.video").alias("v"),
    )
    release_video = videos_exploded.select(
        "release_id",
        F.coalesce(F.col("v._duration").cast("int"), F.lit(0)).alias("duration"),
        F.coalesce(F.col("v._src"), F.lit("")).alias("src"),
        F.coalesce(F.col("v.title"), F.lit("")).alias("title"),
    )
    return {
        "release": release,
        "release_label": release_label,
        "release_video": release_video,
    }


def shred_artists(records: DataFrame) -> dict[str, DataFrame]:
    """artists records → artist. name_variations IS populated and aliases
    stay out of members (reference bugs artist.rs:233-263 — quirks.py Q4)."""
    artist = records.select(
        F.col("id").cast("int").alias("id"),
        _s("name").alias("name"),
        _s("realname").alias("real_name"),
        _s("profile").alias("profile"),
        _s("data_quality").alias("data_quality"),
        _arr("namevariations.name").alias("name_variations"),
        _arr("urls.url").alias("urls"),
        _arr("aliases.name").alias("aliases"),
        _arr("members.name").alias("members"),
    )
    return {"artist": artist}


def shred_labels(records: DataFrame) -> dict[str, DataFrame]:
    """labels records → label (label.rs:97-249)."""
    label = records.select(
        F.col("id").cast("int").alias("id"),
        _s("name").alias("name"),
        _s("contactinfo").alias("contactinfo"),
        _s("profile").alias("profile"),
        _s("parent_label").alias("parent_label"),
        _arr("sublabels.label").alias("sublabels"),
        _arr("urls.url").alias("urls"),
        _s("data_quality").alias("data_quality"),
    )
    return {"label": label}


def shred_masters(records: DataFrame) -> dict[str, DataFrame]:
    """masters records → master, master_artist.

    year/notes/genres/styles ARE parsed (the reference never fills them —
    master.rs:81-94, quirks.py Q1)."""
    master = records.select(
        F.col("_id").cast("int").alias("id"),
        _s("title").alias("title"),
        _i("main_release").alias("release_id"),
        _i("year").alias("year"),
        _s("notes").alias("notes"),
        _arr("genres.genre").alias("genres"),
        _arr("styles.style").alias("styles"),
        _s("data_quality").alias("data_quality"),
    )

    master_artist = (
        records.select(
            F.col("_id").cast("int").alias("master_id"),
            F.explode("artists.artist").alias("a"),
        )
        .select(
            F.coalesce(F.col("a.id").cast("int"), F.lit(0)).alias("artist_id"),
            "master_id",
            F.coalesce(F.col("a.name"), F.lit("")).alias("name"),
            F.coalesce(F.col("a.anv"), F.lit("")).alias("anv"),
            F.coalesce(F.col("a.role"), F.lit("")).alias("role"),
        )
    )
    return {"master": master, "master_artist": master_artist}


SHREDDERS = {
    "releases": shred_releases,
    "artists": shred_artists,
    "labels": shred_labels,
    "masters": shred_masters,
}


def shred(records: DataFrame, kind: str) -> dict[str, DataFrame]:
    """Dispatch: :func:`first_wins_records` of one dump kind →
    {table_name: DataFrame}."""
    return SHREDDERS[kind](records)
