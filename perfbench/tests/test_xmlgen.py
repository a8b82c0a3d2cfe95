"""The convert input generator: determinism, shape coverage, and its
aggregates against an independent parse of the XML it wrote."""

import xml.etree.ElementTree as ET
from datetime import datetime

import pytest

import xmlgen


def test_same_seed_same_shard_and_aggregates():
    a = xmlgen.make_shard(11, 0, 500)
    b = xmlgen.make_shard(11, 0, 500)
    assert a.xml == b.xml
    assert a.expected == b.expected


@pytest.mark.parametrize("seed, index", [(12, 0), (11, 1)])
def test_new_seed_or_shard_differs(seed, index):
    base = xmlgen.make_shard(11, 0, 500)
    other = xmlgen.make_shard(seed, index, 500)
    assert other.xml != base.xml
    assert other.expected != base.expected
    assert other.expected.rows == base.expected.rows


def _ms(s):
    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


def reference_aggregates(xml: bytes) -> xmlgen.Aggregates:
    """FIXTURES.md §1 semantics applied with the standard-library parser."""
    agg = xmlgen.Aggregates()
    for cs in ET.fromstring(xml).findall("changeset"):
        a = cs.attrib
        agg.rows += 1
        agg.id_sum += int(a.get("id", 0))
        for key, n, s in (("created_at", "created_n", "created_ms_sum"),
                          ("closed_at", "closed_n", "closed_ms_sum")):
            if key in a:
                setattr(agg, n, getattr(agg, n) + 1)
                setattr(agg, s, getattr(agg, s) + _ms(a[key]))
        agg.open_n += a.get("open") == "true"
        if "user" in a:
            agg.user_n += 1
            agg.user_bytes += len(a["user"].encode())
            agg.user_cp += ord(a["user"][0])
        if "uid" in a:
            agg.uid_n += 1
            agg.uid_sum += int(a["uid"])
        if "min_lat" in a:
            agg.bbox_n += 1
            agg.bbox_sum += sum(float(a[k]) for k in ("min_lat", "min_lon", "max_lat", "max_lon"))
        agg.num_changes_sum += int(a.get("num_changes", 0))
        agg.comments_count_sum += int(a.get("comments_count", 0))
        comments = [t.attrib["v"] for t in cs.findall("tag") if t.attrib.get("k") == "comment"]
        if comments:
            agg.desc_n += 1
            agg.desc_bytes += len(comments[-1].encode())
            agg.desc_cp += ord(comments[-1][0])
    return agg


def test_aggregates_match_an_independent_parse():
    shard = xmlgen.make_shard(3, 2, 2 * len(xmlgen.SHAPES) * 7)
    assert reference_aggregates(shard.xml).mismatches(shard.expected) == []


def test_every_fixture_shape_at_a_fixed_share():
    n = len(xmlgen.SHAPES) * 20
    text = xmlgen.make_shard(5, 0, n).xml.decode()
    per_shape = n // len(xmlgen.SHAPES)
    assert text.count("<changeset ") == n
    assert text.count("<discussion>") == per_shape
    assert text.count('open="yes"') == per_shape
    assert text.count('open="true"') == per_shape
    assert text.count("changes_count=") == per_shape
    assert text.count("&amp;") >= per_shape and text.count("&#") > 0
    assert text.count("道路") == per_shape  # raw UTF-8 in every unicode row
    assert any(off in text for off in ("+01:00", "-05:30", "+09:00", "-03:00"))
    root = ET.fromstring(text.encode())
    big = [int(c.get("num_changes")) for c in root.findall("changeset")]
    assert sum(v > 2**31 - 1 for v in big) == per_shape
    no_bbox = [c for c in root.findall("changeset") if "min_lat" not in c.attrib]
    assert len(no_bbox) == per_shape
    multi = [c for c in root.findall("changeset")
             if sum(t.get("k") == "comment" for t in c.findall("tag")) >= 2]
    assert len(multi) == per_shape
