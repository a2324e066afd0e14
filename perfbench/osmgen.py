"""Seeded generator of one OSM XML file plus the ground truth its pipeline must reproduce.

The file is shaped like the stripped Cupertino extract the source notebook
wrangles (214,642 nodes, 28,404 ways, 313 relations, ~166k tags, ~255k ``nd``
refs, 534 users, ~47 MB), scaled by ``scale``.  Every count the capstone
checks is tallied while the file is written, with plain Python that does not
share code with the engine, so the check is independent of the code it checks.
"""

from __future__ import annotations

import itertools
import random
import re
from collections import Counter

REFERENCE = {"nodes": 214_642, "ways": 28_404, "relations": 313, "users": 534}

# The audit's expected street types (the reference audit.py list).
EXPECTED_STREET_TYPES = [
    "Street", "Avenue", "Boulevard", "Drive", "Court", "Place", "Square",
    "Lane", "Road", "Trail", "Parkway", "Commons",
]

# Abbreviations the engine's C1 mapping rewrites, with their full form.
_ABBREVIATIONS = {
    "Ave": "Avenue", "Ave.": "Avenue", "Blvd": "Boulevard", "Dr": "Drive",
    "Ln": "Lane", "Rd": "Road", "St": "Street", "St.": "Street", "Ct": "Court",
}
_UNEXPECTED_KEPT = ["Real", "Way", "Loop", "Alameda", "Circle", "Terrace"]
_STREET_NAMES = [
    "Stevens Creek", "De Anza", "Homestead", "Wolfe", "Bubb", "Foothill",
    "Blaney", "Miller", "Tantau", "Rainbow", "McClellan", "Bollinger",
    "Vallco", "Mary", "Prospect", "Finch", "Portal", "Pruneridge",
]
_CARDINALS = {"N": "North", "S": "South", "E": "East", "W": "West"}
_AMENITIES = [
    "restaurant", "parking", "school", "cafe", "bench", "fast_food",
    "place_of_worship", "bank", "fuel", "toilets", "post_box", "pharmacy",
]
_POSTCODES = ["95014", "95015", "95051", "95070", "95129", "94087", "95008"]
_HIGHWAYS = ["residential", "service", "footway", "primary", "secondary", "tertiary"]
# Keys by audit class, so every class the key audit reports is present.
_LOWER_KEYS = ["name", "building", "source", "highway", "surface", "lanes", "oneway"]
_LOWER_COLON_KEYS = ["tiger:county", "tiger:cfcc", "gnis:feature_id", "name:en", "roof:shape"]
_OTHER_KEYS = ["FIXME", "name_1", "tiger:name_base_1", "NHD:ComID"]
_PROBLEM_KEYS = ["fix me", "note.1", "type=x", "source;date", "url?q"]

# The engine's key-class and street-type patterns, restated for the oracle.
_PROBLEMCHARS = re.compile(r"[=\+/&<>;'\"\?%#$@\,\. \t\r\n]")
_LOWER = re.compile(r"^([a-z]|_)*$")
_LOWER_COLON = re.compile(r"^([a-z]|_)*:([a-z]|_)*$")
_STREET_TYPE = re.compile(r"\b(\S+?)\.?$")


def key_class(key: str) -> str:
    if _PROBLEMCHARS.search(key):
        return "problemchars"
    if _LOWER.search(key):
        return "lower"
    if _LOWER_COLON.search(key):
        return "lower_colon"
    return "other"


def _clean_street(value: str) -> str:
    """The cleaning the notebook applies: leading cardinal, then trailing type."""
    head, _, rest = value.partition(" ")
    if head.rstrip(".") in _CARDINALS and rest:
        value = _CARDINALS[head.rstrip(".")] + " " + rest
    *front, last = value.split(" ")
    if last in _ABBREVIATIONS:
        value = " ".join([*front, _ABBREVIATIONS[last]])
    return value


def _attr(value: str) -> str:
    return value.replace("&", "&amp;").replace('"', "&quot;").replace("<", "&lt;")


class _Tally:
    def __init__(self) -> None:
        self.elements: Counter[str] = Counter()
        self.key_classes: Counter[str] = Counter()
        self.street_types: Counter[str] = Counter()
        self.users: Counter[str] = Counter()
        self.amenities: Counter[str] = Counter()
        self.postcodes: Counter[str] = Counter()
        self.streets_rewritten = 0
        self.nd_refs = 0
        self.tags = 0


def _street(rng: random.Random) -> str:
    name = rng.choice(_STREET_NAMES)
    if rng.random() < 0.1:
        name = rng.choice(list(_CARDINALS)) + rng.choice(["", "."]) + " " + name
    r = rng.random()
    if r < 0.55:
        kind = rng.choice(EXPECTED_STREET_TYPES)
    elif r < 0.85:
        kind = rng.choice(list(_ABBREVIATIONS))
    else:
        kind = rng.choice(_UNEXPECTED_KEPT)
    return f"{name} {kind}"


def _tags(rng: random.Random, kind: str, tally: _Tally, shaped: bool) -> list[tuple[str, str]]:
    """Tags for one element; tallies what the audits and queries will count."""
    tags: dict[str, str] = {}
    if kind == "way":
        tags["highway"] = rng.choice(_HIGHWAYS)
        if rng.random() < 0.5:
            tags["name"] = rng.choice(_STREET_NAMES)
        if rng.random() < 0.3:
            tags[rng.choice(_LOWER_COLON_KEYS)] = str(rng.randrange(1000))
    elif kind == "relation":
        tags["type"] = rng.choice(["multipolygon", "route", "restriction"])
        tags["name"] = rng.choice(_STREET_NAMES)
    if kind != "relation" and rng.random() < (0.35 if kind == "node" else 0.12):
        tags["addr:street"] = _street(rng)
        tags["addr:housenumber"] = str(rng.randrange(1, 30000))
        if rng.random() < 0.7:
            tags["addr:postcode"] = rng.choice(_POSTCODES)
        if rng.random() < 0.1:
            tags["addr:street:name"] = rng.choice(_STREET_NAMES)
    if kind == "node" and rng.random() < 0.3:
        tags["amenity"] = rng.choice(_AMENITIES)
    if rng.random() < 0.2:
        tags[rng.choice(_LOWER_KEYS)] = rng.choice(["yes", "no", "asphalt", "2"])
    if rng.random() < 0.04:
        tags[rng.choice(_OTHER_KEYS)] = "x"
    if rng.random() < 0.03:
        tags[rng.choice(_PROBLEM_KEYS)] = "y"
    for k, v in tags.items():
        tally.key_classes[key_class(k)] += 1
        if k == "addr:street":
            m = _STREET_TYPE.search(v)
            street_type = m.group(1) if m else ""
            if street_type and street_type not in EXPECTED_STREET_TYPES:
                tally.street_types[street_type] += 1
            if shaped and _clean_street(v) != v:
                tally.streets_rewritten += 1
        if shaped and k == "amenity":
            tally.amenities[v] += 1
        if shaped and k == "addr:postcode":
            tally.postcodes[v] += 1
    tally.tags += len(tags)
    return list(tags.items())


def generate(path: str, seed: int, scale: float) -> dict:
    """Write one OSM XML file to ``path``; return its ground truth."""
    rng = random.Random(seed)
    n_nodes = max(10, round(REFERENCE["nodes"] * scale))
    n_ways = max(2, round(REFERENCE["ways"] * scale))
    n_relations = max(1, round(REFERENCE["relations"] * scale))
    n_users = max(2, round(REFERENCE["users"] * min(1.0, scale * 4)))
    # Contribution is heavily skewed, as in real extracts.
    users = [(f"mapper_{rng.randrange(16**6):06x}_{i}", str(10_000 + i)) for i in range(n_users)]
    cum_weights = list(itertools.accumulate(1.0 / (i + 1) ** 1.1 for i in range(n_users)))
    tally = _Tally()
    node_id0, way_id0, rel_id0 = 26_000_000, 5_000_000, 100_000

    def head(kind: str, ident: int, shaped: bool) -> str:
        user, uid = rng.choices(users, cum_weights=cum_weights)[0]
        if shaped:
            tally.users[user] += 1
        ts = (
            f"20{rng.randrange(8, 16):02d}-{rng.randrange(1, 13):02d}-"
            f"{rng.randrange(1, 29):02d}T{rng.randrange(24):02d}:"
            f"{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"
        )
        return (
            f'<{kind} id="{ident}" version="{rng.randrange(1, 9)}" timestamp="{ts}" '
            f'changeset="{rng.randrange(10**6, 3 * 10**7)}" uid="{uid}" user="{_attr(user)}"'
        )

    with open(path, "w", encoding="utf-8") as out:
        out.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6" generator="perfbench">\n')
        for i in range(n_nodes):
            lat = 37.28 + rng.random() * 0.06
            lon = -122.09 + rng.random() * 0.08
            line = head("node", node_id0 + i, True) + f' lat="{lat:.7f}" lon="{lon:.7f}"'
            tags = _tags(rng, "node", tally, True) if rng.random() < 0.3 else []
            if tags:
                body = "".join(f'  <tag k="{_attr(k)}" v="{_attr(v)}"/>\n' for k, v in tags)
                out.write(f"  {line}>\n{body}  </node>\n")
            else:
                out.write(f"  {line}/>\n")
        for i in range(n_ways):
            refs = [node_id0 + rng.randrange(n_nodes) for _ in range(rng.randrange(2, 17))]
            tally.nd_refs += len(refs)
            body = "".join(f'    <nd ref="{r}"/>\n' for r in refs)
            body += "".join(
                f'    <tag k="{_attr(k)}" v="{_attr(v)}"/>\n'
                for k, v in _tags(rng, "way", tally, True)
            )
            out.write(f"  {head('way', way_id0 + i, True)}>\n{body}  </way>\n")
        for i in range(n_relations):
            members = "".join(
                f'    <member type="way" ref="{way_id0 + rng.randrange(n_ways)}" role="outer"/>\n'
                for _ in range(rng.randrange(1, 6))
            )
            body = members + "".join(
                f'    <tag k="{_attr(k)}" v="{_attr(v)}"/>\n'
                for k, v in _tags(rng, "relation", tally, False)
            )
            out.write(f"  {head('relation', rel_id0 + i, False)}>\n{body}  </relation>\n")
        out.write("</osm>\n")
    tally.elements.update(node=n_nodes, way=n_ways, relation=n_relations)
    return {
        "elements": dict(tally.elements),
        "shaped_docs": n_nodes + n_ways,
        "ways": n_ways,
        "distinct_users": len(tally.users),
        "user_counts": dict(tally.users),
        "key_classes": dict(tally.key_classes),
        "street_types": dict(tally.street_types),
        "streets_rewritten": tally.streets_rewritten,
        "amenities": dict(tally.amenities),
        "postcodes": dict(tally.postcodes),
        "tags": tally.tags,
        "nd_refs": tally.nd_refs,
    }
