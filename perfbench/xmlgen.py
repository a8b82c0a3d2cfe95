"""Seeded changeset-XML shards for the ``convert`` workload.

Every shard cycles through the FIXTURES.md §1 shapes at fixed shares
(one changeset of each shape per ``len(SHAPES)`` rows): self-closing
elements, several ``comment`` tags where the last one wins,
``<discussion>`` blocks, absent attributes, ``open="yes"``, escapes and
unicode, timezone offsets and ``num_changes`` above the i32 range.  The
content of each row (ids, times, names, boxes, counts) comes from
``random.Random`` seeded by the workload seed and the shard index, so the
same seed always yields byte-identical shards.

The generator also computes, in plain Python, the aggregates the
converted Parquet must reproduce (:func:`Shard.expected`); the
benchmark compares them with what DuckDB reads back after each convert.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

SHAPES = (
    "selfclosing_utc",  # all attributes, self-closing, Z timestamps
    "selfclosing_offset",  # all attributes, +hh:mm / -hh:mm offsets
    "comments_last_wins",  # two or three comment tags, the last one wins
    "discussion",  # a <discussion> subtree that the parser skips
    "absent_attrs",  # no bbox, no user/uid, no open attribute
    "open_true",  # open="true" and no closed_at
    "open_yes_big",  # open="yes" (-> false), num_changes > 2^31 - 1
    "escapes",  # XML entity and numeric-reference escapes
    "unicode",  # raw UTF-8 CJK / accents / emoji
    "other_tags",  # only non-comment tags, a tag with a text body, unknown attr
)

_NAMES = ("alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi")
_UNICODE_NAMES = ("漢字", "Zoë", "Ærøskøbing", "😀map", "東京🚀", "Łódź")
_OFFSETS = ("+01:00", "-05:30", "+09:00", "-03:00")
_EPOCH_LO = int(datetime(2010, 1, 1, tzinfo=timezone.utc).timestamp())
_EPOCH_HI = int(datetime(2025, 1, 1, tzinfo=timezone.utc).timestamp())


def escape_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def _numeric_refs(s: str) -> str:
    """Encode every non-ASCII character as a decimal character reference."""
    return "".join(c if ord(c) < 128 else f"&#{ord(c)};" for c in s)


def _rfc3339(epoch_s: int, offset: str | None) -> str:
    if offset is None:
        return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    sign = 1 if offset[0] == "+" else -1
    hh, mm = int(offset[1:3]), int(offset[4:6])
    delta = timedelta(hours=hh, minutes=mm) * sign
    local = datetime.fromtimestamp(epoch_s, timezone.utc) + delta
    return local.strftime("%Y-%m-%dT%H:%M:%S") + offset


@dataclass
class Aggregates:
    """Column aggregates of a converted shard.

    ``*_bytes`` sums UTF-8 lengths and ``*_cp`` sums the first code point
    of each non-null string, so both escapes and unicode are checked.
    """

    rows: int = 0
    id_sum: int = 0
    created_n: int = 0
    created_ms_sum: int = 0
    closed_n: int = 0
    closed_ms_sum: int = 0
    open_n: int = 0
    user_n: int = 0
    user_bytes: int = 0
    user_cp: int = 0
    uid_n: int = 0
    uid_sum: int = 0
    bbox_n: int = 0
    bbox_sum: float = 0.0
    num_changes_sum: int = 0
    comments_count_sum: int = 0
    desc_n: int = 0
    desc_bytes: int = 0
    desc_cp: int = 0

    def mismatches(self, other: "Aggregates") -> list[str]:
        out = []
        for name, mine in vars(self).items():
            theirs = getattr(other, name)
            if isinstance(mine, float) or isinstance(theirs, float):
                ok = abs(mine - theirs) <= 1e-6 * max(1.0, abs(mine))
            else:
                ok = mine == theirs
            if not ok:
                out.append(f"{name}: expected {mine!r}, got {theirs!r}")
        return out


# DuckDB query over a converted shard; column order matches Aggregates.
CHECK_SQL = """
SELECT count(*), sum(id),
       count(created_at), sum(epoch_ms(created_at)),
       count(closed_at), sum(epoch_ms(closed_at)),
       count(*) FILTER (WHERE open),
       count("user"), sum(strlen("user")), sum(unicode("user")),
       count(uid), sum(uid),
       count(min_lat), sum(min_lat + min_lon + max_lat + max_lon),
       sum(num_changes), sum(comments_count),
       count(description), sum(strlen(description)), sum(unicode(description))
FROM read_parquet('{glob}')
"""


def aggregates_from_row(row: tuple) -> Aggregates:
    """Build Aggregates from one CHECK_SQL result row (NULL sums -> 0)."""
    vals = [0 if v is None else v for v in row]
    agg = Aggregates(*[int(v) for v in vals])
    agg.bbox_sum = float(vals[13])
    return agg


@dataclass
class Shard:
    xml: bytes
    expected: Aggregates = field(default_factory=Aggregates)


def make_shard(seed: int, index: int, n_changesets: int) -> Shard:
    """One shard of ``n_changesets`` changesets, deterministic in
    (seed, index)."""
    rng = random.Random(f"perfbench-convert-{seed}-{index}")
    agg = Aggregates()
    id_base = 1 + (seed % 1000) * 10**9 + index * 10**7
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osm license="http://opendatacommons.org/licenses/odbl/1-0/" version="0.6">\n'
    ]
    for i in range(n_changesets):
        shape = SHAPES[i % len(SHAPES)]
        cid = id_base + i
        created = rng.randrange(_EPOCH_LO, _EPOCH_HI)
        closed = created + rng.randrange(1, 86_400)
        offset = rng.choice(_OFFSETS) if shape == "selfclosing_offset" else None
        user: str | None = rng.choice(_NAMES) + str(rng.randrange(1000))
        user_xml = None
        uid: int | None = rng.randrange(1, 30_000_000)
        bbox: tuple[float, ...] | None = None
        lat, lon = rng.uniform(-89.0, 89.0), rng.uniform(-179.0, 179.0)
        bbox_txt = (
            f"{lat:.7f}",
            f"{lon:.7f}",
            f"{lat + rng.uniform(0, 0.5):.7f}",
            f"{lon + rng.uniform(0, 0.5):.7f}",
        )
        bbox = tuple(float(t) for t in bbox_txt)
        num_changes = rng.randrange(0, 10_000)
        comments_count = rng.randrange(0, 20)
        open_attr: str | None = "false"
        is_open = False
        has_closed = True
        children: list[str] = []
        description: str | None = None
        extra_attr = ""

        if shape == "comments_last_wins":
            n = rng.randrange(2, 4)
            vals = [f"edit {k} of {rng.randrange(10**6)}" for k in range(n - 1)]
            vals.append(f"final word #{rng.randrange(10**6)}")
            children.append('    <tag k="created_by" v="JOSM/1.5"/>\n')
            children += [f'    <tag k="comment" v="{v}"/>\n' for v in vals]
            description = vals[-1]
        elif shape == "discussion":
            description = f"discussed change {rng.randrange(10**6)}"
            children.append(f'    <tag k="comment" v="{description}"/>\n')
            children.append(
                "    <discussion>\n"
                f'      <comment date="2020-01-01T00:00:00Z" uid="{rng.randrange(99)}" user="x">\n'
                '        <text>never parsed <tag k="comment" v="not me"/></text>\n'
                "      </comment>\n"
                "    </discussion>\n"
            )
        elif shape == "absent_attrs":
            user = uid = bbox = None
            open_attr = None
        elif shape == "open_true":
            open_attr, is_open, has_closed = "true", True, False
        elif shape == "open_yes_big":
            open_attr = "yes"
            num_changes = 2**31 + rng.randrange(0, 2**31)
        elif shape == "escapes":
            user = f"a&b<{rng.randrange(100)}>\"q\""
            user_xml = escape_attr(user)
            description = f"fix <road> & \"rail\" {rng.randrange(10**6)}"
            children.append(f'    <tag k="comment" v="{escape_attr(description)}"/>\n')
        elif shape == "unicode":
            user = rng.choice(_UNICODE_NAMES) + str(rng.randrange(100))
            # every other unicode row spells its name as character references
            user_xml = _numeric_refs(user) if (i // len(SHAPES)) % 2 else user
            description = f"{rng.choice(_UNICODE_NAMES)} 道路 ✓ {rng.randrange(10**6)}"
            children.append(f'    <tag k="comment" v="{description}"/>\n')
        elif shape == "other_tags":
            extra_attr = f' changes_count="{rng.randrange(50)}"'
            children.append('    <tag k="created_by" v="iD 2.20"/>\n')
            children.append('    <tag k="source" v="survey">text body is ignored</tag>\n')

        created_txt = _rfc3339(created, offset)
        attrs = [f'id="{cid}"', f'created_at="{created_txt}"']
        if has_closed:
            attrs.append(f'closed_at="{_rfc3339(closed, offset)}"')
        if open_attr is not None:
            attrs.append(f'open="{open_attr}"')
        if user is not None:
            attrs.append(f'user="{user_xml or user}"')
        if uid is not None:
            attrs.append(f'uid="{uid}"')
        if bbox is not None:
            attrs.append(
                f'min_lat="{bbox_txt[0]}" min_lon="{bbox_txt[1]}" '
                f'max_lat="{bbox_txt[2]}" max_lon="{bbox_txt[3]}"'
            )
        attrs.append(f'num_changes="{num_changes}" comments_count="{comments_count}"')
        head = "  <changeset " + " ".join(attrs) + extra_attr
        if children:
            out.append(head + ">\n" + "".join(children) + "  </changeset>\n")
        else:
            out.append(head + "/>\n")

        agg.rows += 1
        agg.id_sum += cid
        agg.created_n += 1
        agg.created_ms_sum += created * 1000
        if has_closed:
            agg.closed_n += 1
            agg.closed_ms_sum += closed * 1000
        agg.open_n += is_open
        if user is not None:
            agg.user_n += 1
            agg.user_bytes += len(user.encode("utf-8"))
            agg.user_cp += ord(user[0])
        if uid is not None:
            agg.uid_n += 1
            agg.uid_sum += uid
        if bbox is not None:
            agg.bbox_n += 1
            agg.bbox_sum += sum(bbox)
        agg.num_changes_sum += num_changes
        agg.comments_count_sum += comments_count
        if description is not None:
            agg.desc_n += 1
            agg.desc_bytes += len(description.encode("utf-8"))
            agg.desc_cp += ord(description[0])
    out.append("</osm>\n")
    return Shard(xml="".join(out).encode("utf-8"), expected=agg)
