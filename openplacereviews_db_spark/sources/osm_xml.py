"""OSM XML source (operators S1/S2, SURVEY.md §2.1).

The reference streams Overpass XML through a pull parser in batches of
250 entities (``osm/parser/OsmParser.java:71-159``), in two modes:
full dumps (node/way/relation with tag/nd/member children) and diff
responses (``<action type=...><old>…</old><new>…</new></action>`` →
DiffEntity, :85-102,133-155).

Spark shape: one task per file (``binaryFile`` source) streaming
through ``xml.etree.iterparse`` inside ``mapInPandas`` — the parser
never materializes the XML tree (elements are cleared as they close),
and rows leave in Arrow batches, so a task's memory is bounded by the
batch size regardless of file size.  Parallelism = number of files;
OSM exports are naturally multi-file (regional extracts / PBF-split
dumps), which is the 100 TB layout anyway.  Gzipped inputs (`.gz`,
the reference's Overpass cache format — ``OsmSyncBot.java:570-593``)
are decompressed on the fly.

The Overpass *query generator* (S3) becomes source-side predicate
helpers (``filter_entities``) — tag equality, bbox, and time-window
filters expressed as ``where`` clauses that Catalyst pushes down.
"""

from __future__ import annotations

import gzip
import io
import xml.etree.ElementTree as ET
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENTITY_DDL = (
    "entity_type string, id long, lat double, lon double, "
    "tags map<string,string>, nd_refs array<long>, "
    "members array<struct<ref:long,type:string,role:string>>, "
    "version int, timestamp string, changeset long, uid long, "
    "user string, visible boolean, action string, section string, "
    "src_file string"
)

_COLS = [f.split()[0] for f in ENTITY_DDL.split(", ")]
_ENTITY_TAGS = ("node", "way", "relation")


def _row(elem: ET.Element, action: str | None, section: str | None) -> dict[str, Any]:
    a = elem.attrib
    tags = {t.get("k", ""): t.get("v", "") for t in elem.findall("tag")
            if t.get("k", "") != ""}  # P9 empty-tag scrub
    return {
        "entity_type": elem.tag,
        "id": int(a["id"]) if "id" in a else None,
        "lat": float(a["lat"]) if "lat" in a else None,
        "lon": float(a["lon"]) if "lon" in a else None,
        "tags": tags,
        "nd_refs": [int(nd.get("ref")) for nd in elem.findall("nd")],
        "members": [{"ref": int(m.get("ref", 0)), "type": m.get("type"),
                     "role": m.get("role")} for m in elem.findall("member")],
        "version": int(a["version"]) if "version" in a else None,
        "timestamp": a.get("timestamp"),
        "changeset": int(a["changeset"]) if "changeset" in a else None,
        "uid": int(a["uid"]) if "uid" in a else None,
        "user": a.get("user"),
        "visible": (a["visible"] == "true") if "visible" in a else None,
        "action": action,
        "section": section,
    }


def iter_osm_stream(stream, batch_size: int = 2000) -> Iterator[list[dict]]:
    """Pull-parse one XML stream into batches of entity rows.

    Tracks the diff-mode context (``action``/``old``/``new`` wrappers);
    plain dumps yield rows with action/section None.
    """
    action: str | None = None
    section: str | None = None
    batch: list[dict] = []
    for event, elem in ET.iterparse(stream, events=("start", "end")):
        if event == "start":
            if elem.tag == "action":
                action = elem.get("type")
            elif elem.tag in ("old", "new"):
                section = elem.tag
            continue
        if elem.tag in _ENTITY_TAGS:
            batch.append(_row(elem, action, section))
            elem.clear()
            if len(batch) >= batch_size:
                yield batch
                batch = []
        elif elem.tag == "action":
            action = None
            elem.clear()
        elif elem.tag in ("old", "new"):
            section = None
    if batch:
        yield batch


def read_osm_xml(spark: SparkSession, path: str,
                 batch_size: int = 2000) -> DataFrame:
    """Entities DataFrame from OSM XML file(s) at ``path`` (glob ok)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for src, content in zip(pdf["path"], pdf["content"]):
                raw = io.BytesIO(bytes(content))
                stream = gzip.open(raw) if src.endswith(".gz") else raw
                for batch in iter_osm_stream(stream, batch_size):
                    out = pd.DataFrame(batch)
                    out["src_file"] = src
                    yield out[_COLS]

    return files.mapInPandas(parse, schema=ENTITY_DDL)


def diff_pairs(entities: DataFrame) -> DataFrame:
    """S2: pivot a diff parse into (action, old struct, new struct) rows —
    the reference's DiffEntity (DiffEntity.java:3-43).

    create → old is null; delete → new is null (Overpass adiff emits the
    deleted entity under <old> only in most servers; rows present under
    <new> with visible=false are treated as deleted too).
    """
    ent = F.struct(*[F.col(c) for c in
                     ("entity_type", "id", "lat", "lon", "tags", "nd_refs",
                      "members", "version", "timestamp", "changeset")])
    keyed = entities.where(F.col("action").isNotNull()).select(
        "entity_type", "id", "action", "section", ent.alias("ent"))
    old = (keyed.where(F.col("section") == "old")
           .select("entity_type", "id", "action", F.col("ent").alias("old")))
    new = (keyed.where((F.col("section") == "new")
                       | F.col("section").isNull())
           .select("entity_type", "id", "action", F.col("ent").alias("new")))
    return old.join(new, on=["entity_type", "id", "action"], how="full_outer")


def filter_entities(df: DataFrame, tag: str | None = None,
                    value: str | None = None,
                    bbox: tuple[float, float, float, float] | None = None,
                    changed_since: str | None = None,
                    changed_until: str | None = None) -> DataFrame:
    """S3 semantics: tag/bbox/time-window predicates as pushed-down
    filters (OsmSyncBot.java:173-221's query template, declaratively)."""
    out = df
    if tag is not None:
        out = (out.where(F.map_contains_key("tags", tag))
               if value is None else out.where(F.col("tags")[tag] == value))
    if bbox is not None:
        lat1, lon1, lat2, lon2 = bbox
        out = out.where(F.col("lat").between(lat1, lat2)
                        & F.col("lon").between(lon1, lon2))
    if changed_since is not None:
        out = out.where(F.col("timestamp") > changed_since)
    if changed_until is not None:
        out = out.where(F.col("timestamp") <= changed_until)
    return out
