"""The cleaning-expression DSL (SURVEY.md §2.7, C1–C21).

Every function here is a *native Column expression* — the reference implements
these as row-at-a-time Python (audit.py, 03-data-quality/*, 04-working-with-
mongodb/autos.py, processing.py); re-expressed as Catalyst expressions they
run inside whole-stage codegen with no Python boundary, which is the entire
scale story for the ETL hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# ---------------------------------------------------------------------------
# C1 — street-type canonicalization mapping (README.md:380-386; audit.py:25-45)
# ---------------------------------------------------------------------------
STREET_MAPPING: dict[str, str] = {
    "Ave": "Avenue",
    "Ave.": "Avenue",
    "Blvd": "Boulevard",
    "Blvd.": "Boulevard",
    "Cir": "Circle",
    "Ct": "Court",
    "Dr": "Drive",
    "Dr.": "Drive",
    "Hwy": "Highway",
    "Ln": "Lane",
    "Ln.": "Lane",
    "Pkwy": "Parkway",
    "Pl": "Place",
    "Rd": "Road",
    "Rd.": "Road",
    "Sq": "Square",
    "St": "Street",
    "St.": "Street",
    "Ter": "Terrace",
    "Trl": "Trail",
    "Wy": "Way",
}

# C2 — cardinal-direction expansion (README.md:543-550,557-562)
CARDINAL_MAPPING: dict[str, str] = {
    "N": "North",
    "S": "South",
    "E": "East",
    "W": "West",
}


def _re_escape(s: str) -> str:
    out = []
    for ch in s:
        out.append("\\" + ch if ch in r"\.^$*+?()[]{}|" else ch)
    return "".join(out)


def clean_street_type(col: Column) -> Column:
    """C1: canonicalize the trailing street-type token (Ave → Avenue …).

    The reference extracts the last token with ``\\b\\S+\\.?$`` and substitutes
    via a mapping (README.md:366-373).  Here the mapping folds into a chain of
    anchored ``regexp_replace`` calls — still one projection, fully codegen'd.
    Longer keys substitute first so ``St.`` wins over ``St``.
    """
    out = col
    for abbrev in sorted(STREET_MAPPING, key=len, reverse=True):
        full = STREET_MAPPING[abbrev]
        pattern = "\\b" + _re_escape(abbrev) + "$"
        out = F.regexp_replace(out, pattern, full)
    return out


def expand_cardinal(col: Column) -> Column:
    """C2: expand a leading cardinal abbreviation (``N`` / ``N.`` → North)."""
    out = col
    for abbrev, full in CARDINAL_MAPPING.items():
        out = F.regexp_replace(out, f"^{abbrev}\\.?(\\s)", full + "$1")
    return out


def clean_street_name(col: Column) -> Column:
    """C1+C2 composed, the notebook's full cleaning (README.md:683-687)."""
    return clean_street_type(expand_cardinal(col))


# ---------------------------------------------------------------------------
# C3 — key-class regexes (tags.py:21-23; data.py:89-91)
# ---------------------------------------------------------------------------
LOWER_RE = "^([a-z]|_)*$"
LOWER_COLON_RE = "^([a-z]|_)*:([a-z]|_)*$"
PROBLEMCHARS_RE = "[=\\+/&<>;'\"\\?%#$@\\,\\. \\t\\r\\n]"


def classify_key(col: Column) -> Column:
    """C3: classify a tag key into lower / lower_colon / problemchars / other
    (tags.py:25-38; golden counts README.md:153)."""
    return (
        F.when(col.rlike(PROBLEMCHARS_RE), "problemchars")
        .when(col.rlike(LOWER_RE), "lower")
        .when(col.rlike(LOWER_COLON_RE), "lower_colon")
        .otherwise("other")
    )


# ---------------------------------------------------------------------------
# C4/C5 — parenthetical stripping (04/autos.py:44-48; 04/processing.py:79-81)
# ---------------------------------------------------------------------------
def strip_parenthetical(col: Column, word: str) -> Column:
    """C4: ``re.sub(r"\\s*\\(word\\)\\s*", " ", v)`` then trim."""
    return F.trim(F.regexp_replace(col, "\\s*\\(" + _re_escape(word) + "\\)\\s*", " "))


def strip_label_parens(col: Column) -> Column:
    """C5: 'Argiope (spider)' → 'Argiope' (split on ' (' keep head)."""
    return F.trim(F.regexp_extract(col, "^[^(]*", 0))


# ---------------------------------------------------------------------------
# C6/C7 — enum lowering, trim (04/autos.py:153-157)
# ---------------------------------------------------------------------------
def lower_enum(col: Column) -> Column:
    return F.lower(F.trim(col))


# ---------------------------------------------------------------------------
# C8 — substring-year + range validation (03/validity.py:37-41)
# ---------------------------------------------------------------------------
def extract_year(col: Column, lo: int = 1886, hi: int = 2014) -> Column:
    """First 4 chars → int, nulled when outside [lo, hi] (the reference's
    'possible range' check for productionStartYear)."""
    y = F.substring(col, 1, 4).try_cast("int")
    return F.when(y.between(lo, hi), y)


def is_valid_year(col: Column, lo: int = 1886, hi: int = 2014) -> Column:
    return extract_year(col, lo, hi).isNotNull()


# ---------------------------------------------------------------------------
# C9 — numeric tests (03/audit.py:46-49; 04/autos.py:37-42)
# ---------------------------------------------------------------------------
def is_number(col: Column) -> Column:
    """float()-castable test, incl. '3.23e+07' scientific forms — cast returns
    null on failure, so the test is a null check."""
    return col.try_cast("double").isNotNull()


# ---------------------------------------------------------------------------
# C10 — unit normalization (04/autos.py:59-69; reference quirk preserved)
# ---------------------------------------------------------------------------
def mm_to_meters(col: Column) -> Column:
    """Values < 0.01 are assumed mis-scaled and multiplied by 1000 — the
    reference's own quirky rule, kept as spec'd (SURVEY.md C10)."""
    return F.when(col < 0.01, col * 1000).otherwise(col)


def kg_to_tonnes(col: Column, threshold: float = 100.0) -> Column:
    return F.when(col > threshold, col / 1000).otherwise(col)


# ---------------------------------------------------------------------------
# C11 — comma-stripped int parse (02/process.py:72-73)
# ---------------------------------------------------------------------------
def comma_int(col: Column) -> Column:
    return F.regexp_replace(col, ",", "").try_cast("long")


# ---------------------------------------------------------------------------
# C12 — OSM timestamp parse (README.md:657-658)
# ---------------------------------------------------------------------------
def parse_osm_timestamp(col: Column) -> Column:
    return F.to_timestamp(col, "yyyy-MM-dd'T'HH:mm:ss'Z'")


# ---------------------------------------------------------------------------
# C14 — age in days from a pinned 'now' (README.md:1235-1242)
# ---------------------------------------------------------------------------
# ---------------------------------------------------------------------------
# C15 — Excel serial-date decode (01/excel_csv.py:39)
# ---------------------------------------------------------------------------
def excel_serial_to_timestamp(col: Column) -> Column:
    """Excel 1900-epoch serial → timestamp: day 0 is 1899-12-30 (xlrd datemode
    0), fractional part is time of day."""
    secs = (col * F.lit(86400.0)).cast("double")
    return F.timestamp_seconds(
        F.unix_timestamp(F.lit("1899-12-30 00:00:00")) + F.round(secs).cast("long")
    )


# ---------------------------------------------------------------------------
# C16 — NULL sentinel (04/processing.py:87-90)
# ---------------------------------------------------------------------------
def null_sentinel(col: Column) -> Column:
    return F.when(col.isin("NULL", ""), None).otherwise(col)


# ---------------------------------------------------------------------------
# C17 — name fallback (04/processing.py:83-84)
# ---------------------------------------------------------------------------
def name_with_fallback(name: Column, label: Column) -> Column:
    """If name is null or not strictly alphanumeric, use label instead."""
    return F.when(name.isNull() | ~name.rlike("^[A-Za-z0-9]+$"), label).otherwise(name)


# ---------------------------------------------------------------------------
# C18 — cross-field consistency (03/location.py:26-27)
# ---------------------------------------------------------------------------
def point_consistent(point: Column, lat: Column, lon: Column) -> Column:
    return point == F.concat_ws(" ", lat, lon)


# ---------------------------------------------------------------------------
# C19 — type classification of raw string values (03/audit.py:43-49)
# ---------------------------------------------------------------------------
def classify_value_type(col: Column) -> Column:
    """NULL/'' → 'NoneType'; '{'-prefix → 'list'; int-castable → 'int';
    float-castable → 'float'; else 'str' — the lesson-03 type audit."""
    return (
        F.when(col.isNull() | col.isin("NULL", ""), "NoneType")
        .when(col.startswith("{"), "list")
        .when(col.rlike("^-?[0-9]+$") & col.try_cast("long").isNotNull(), "int")
        .when(col.try_cast("double").isNotNull(), "float")
        .otherwise("str")
    )


# ---------------------------------------------------------------------------
# C20 — keep longest element of a {a|b} multi-value then float (03/area.py:23-34)
# ---------------------------------------------------------------------------
def parse_multivalue_array(col: Column) -> Column:
    """F6: raw '{a|b|c}' / scalar / NULL → array (03/name.py:22-25).

    'NULL' or '' → empty array; '{a|b}' → split elements; scalar → [scalar].
    """
    braces = F.regexp_replace(col, "^\\{|\\}$", "")
    return (
        F.when(col.isNull() | col.isin("NULL", ""), F.array().cast("array<string>"))
        .when(col.startswith("{"), F.split(braces, "\\|"))
        .otherwise(F.array(col))
    )


def fix_area(col: Column) -> Column:
    """C20: from a multi-valued raw area keep the *longest* string element,
    then float-cast (the reference keeps the higher-precision variant)."""
    arr = parse_multivalue_array(col)
    longest = F.aggregate(
        arr,
        F.lit("").cast("string"),
        lambda acc, x: F.when(F.length(x) > F.length(acc), x).otherwise(acc),
    )
    return F.when(F.size(arr) > 0, longest.try_cast("double"))


# ---------------------------------------------------------------------------
# C21 — nested array dig: filter array<struct> by a field, collect another
# (01/nytimes.py:37-48)
# ---------------------------------------------------------------------------
def collect_matching(arr: Column, field: str, value: str, out_field: str) -> Column:
    matched = F.filter(arr, lambda m: m[field] == value)
    return F.transform(matched, lambda m: m[out_field])


# ---------------------------------------------------------------------------
# F7 — year-range expansion (04/autos.py:118-138)
# ---------------------------------------------------------------------------
def expand_year_range(start: Column, end: Column) -> Column:
    """Inclusive [start..end] int array; empty when either bound is null."""
    s, e = start.try_cast("int"), end.try_cast("int")
    return F.when(
        s.isNotNull() & e.isNotNull() & (s <= e), F.sequence(s, e)
    ).otherwise(F.array().cast("array<int>"))


def expand_paired_year_ranges(starts: Column, ends: Column) -> Column:
    """Paired multi-valued variant: zip starts/ends arrays positionally and
    concatenate the expanded ranges (autos.py pairs them per index)."""
    zipped = F.arrays_zip(starts.cast("array<int>"), ends.cast("array<int>"))
    ranges = F.transform(
        zipped,
        lambda p: F.when(
            p["0"].isNotNull() & p["1"].isNotNull() & (p["0"] <= p["1"]),
            F.sequence(p["0"], p["1"]),
        ).otherwise(F.array().cast("array<int>")),
    )
    return F.flatten(ranges)
