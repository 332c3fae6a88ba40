"""OSM XML source tests (S1/S2) over generated fixtures."""

from __future__ import annotations

import gzip

from openplacereviews_db_spark.sources import osm_xml

FULL_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <node id="101" lat="48.85" lon="2.29" version="3" timestamp="2021-01-01T00:00:00Z" changeset="77" uid="5" user="ann">
    <tag k="amenity" v="cafe"/>
    <tag k="name" v="Blue Cafe"/>
    <tag k="" v="dropme"/>
  </node>
  <node id="102" lat="48.86" lon="2.30" version="1"/>
  <way id="201" version="2">
    <nd ref="101"/><nd ref="102"/>
    <tag k="highway" v="residential"/>
  </way>
  <relation id="301" version="1">
    <member type="node" ref="101" role="stop"/>
    <member type="way" ref="201" role=""/>
  </relation>
</osm>
"""

DIFF_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6">
  <action type="modify">
    <old><node id="101" lat="48.85" lon="2.29" version="3"><tag k="name" v="Old"/></node></old>
    <new><node id="101" lat="48.85" lon="2.29" version="4"><tag k="name" v="New"/></node></new>
  </action>
  <action type="create">
    <node id="103" lat="1.0" lon="2.0" version="1"/>
  </action>
  <action type="delete">
    <old><node id="104" lat="3.0" lon="4.0" version="9"/></old>
  </action>
</osm>
"""


def test_full_parse(spark, tmp_path):
    p = tmp_path / "full.osm"
    p.write_text(FULL_XML)
    gz = tmp_path / "copy.osm.gz"
    gz.write_bytes(gzip.compress(FULL_XML.encode()))

    df = osm_xml.read_osm_xml(spark, str(tmp_path))
    rows = {(r["src_file"].split("/")[-1], r["entity_type"], r["id"]): r
            for r in df.collect()}
    assert len(rows) == 8  # 4 entities x 2 files
    n = rows[("full.osm", "node", 101)]
    assert n["tags"] == {"amenity": "cafe", "name": "Blue Cafe"}  # P9 scrub
    assert n["version"] == 3 and n["changeset"] == 77 and n["user"] == "ann"
    w = rows[("full.osm", "way", 201)]
    assert w["nd_refs"] == [101, 102]
    r = rows[("copy.osm.gz", "relation", 301)]
    assert [(m["type"], m["ref"], m["role"]) for m in r["members"]] == [
        ("node", 101, "stop"), ("way", 201, "")]


def test_diff_parse_and_pairs(spark, tmp_path):
    p = tmp_path / "diff.osm"
    p.write_text(DIFF_XML)
    ents = osm_xml.read_osm_xml(spark, str(p))
    pairs = {(r["action"], r["id"]): r
             for r in osm_xml.diff_pairs(ents).collect()}
    mod = pairs[("modify", 101)]
    assert mod["old"]["tags"]["name"] == "Old"
    assert mod["new"]["tags"]["name"] == "New"
    cre = pairs[("create", 103)]
    assert cre["old"] is None and cre["new"]["lat"] == 1.0
    dele = pairs[("delete", 104)]
    assert dele["new"] is None and dele["old"]["version"] == 9


def test_filter_entities(spark, tmp_path):
    p = tmp_path / "full.osm"
    p.write_text(FULL_XML)
    df = osm_xml.read_osm_xml(spark, str(p))
    cafes = osm_xml.filter_entities(df, tag="amenity", value="cafe")
    assert [r["id"] for r in cafes.collect()] == [101]
    boxed = osm_xml.filter_entities(df, bbox=(48.855, 2.0, 49.0, 3.0))
    assert [r["id"] for r in boxed.collect()] == [102]


def test_osmxml_datasource_reads_gzip_and_plain_identically(spark, tmp_path):
    """The connector must parse .osm and .osm.gz to identical rows, and
    carry diff-mode action/section context like the mapInPandas path."""
    import gzip

    from openplacereviews_db_spark.sources import osm_datasource

    xml = (
        '<?xml version="1.0"?><osm>'
        '<action type="modify"><old>'
        '<node id="1" lat="1.5" lon="2.5" version="1">'
        '<tag k="name" v="a"/></node></old><new>'
        '<node id="1" lat="1.5" lon="2.75" version="2">'
        '<tag k="name" v="b"/></node></new></action>'
        '<node id="2" lat="3.0" lon="4.0" version="1"/>'
        "</osm>"
    )
    plain = tmp_path / "t.osm"
    plain.write_text(xml)
    gz = tmp_path / "t.osm.gz"
    gz.write_bytes(gzip.compress(xml.encode()))

    osm_datasource.register(spark)

    def rows(p):
        return sorted(
            (r["id"], r["action"], r["section"], r["lon"], r["version"],
             dict(r["tags"]))
            for r in spark.read.format("osmxml").option("path", str(p))
            .load().collect())

    a, b = rows(plain), rows(gz)
    assert a == b
    assert a == [
        (1, "modify", "new", 2.75, 2, {"name": "b"}),
        (1, "modify", "old", 2.5, 1, {"name": "a"}),
        (2, None, None, 4.0, 1, {}),
    ]
