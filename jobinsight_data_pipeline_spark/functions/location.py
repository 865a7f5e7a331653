"""Location parsing functions (F6–F10).

F6/F7/F10 are native Column expressions (array-lambda based, no UDF).
F9 — ``parse_job_location`` — is the reference's most intricate heuristic
parser (JSON-vs-literal lists, '│' vs ':' vs ',' splitting, the 'TP'
uppercase test); it is a pandas UDF sharing a pure-Python core so the
unit tests exercise exactly what runs in the executor
(ref src/processing/data_prepare.py:432-652).
"""

from __future__ import annotations

import ast
import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ColumnOrName = Column | str

LOCATION_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("province", T.StringType(), True),
            T.StructField("city", T.StringType(), True),
            T.StructField("district", T.StringType(), True),
        ]
    )
)


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


# --------------------------------------------------------------------------
# F6: extract_location_info(html) -> array<string> of 'key: value' pairs /
# bare lines (ref src/processing/data_processing.py:6-35). The reference
# uses BeautifulSoup.get_text('\n'); tags → newline separators. We strip
# tags natively with a regex — identical for the flat markup the pipeline
# sees (job-card snippets; no entity decoding needed for parity with the
# reference's own tests).
# Lines containing ':' survive only when both key and value are non-empty
# and are re-rendered as 'key: value' (single space).
# --------------------------------------------------------------------------
def extract_location_info(html: ColumnOrName) -> Column:
    h = _col(html)
    lines = F.split(F.regexp_replace(h, "<[^>]+>", "\n"), "\n")
    trimmed = F.filter(
        F.transform(lines, lambda x: F.trim(x)), lambda x: x != ""
    )
    def render(x: Column) -> Column:
        key = F.trim(F.substring_index(x, ":", 1))
        value = F.trim(F.substring(x, F.instr(x, ":") + 1, F.lit(2147483647)))
        has_colon = F.instr(x, ":") > 0
        pair_ok = (key != "") & (value != "")
        return (
            F.when(~has_colon, x)
            .when(pair_ok, F.concat(key, F.lit(": "), value))
            .otherwise(F.lit(None).cast("string"))
        )

    rendered = F.filter(F.transform(trimmed, render), lambda x: x.isNotNull())
    return F.when(h.isNull(), F.array().cast("array<string>")).otherwise(rendered)


# --------------------------------------------------------------------------
# F7: refine_location(location, location_pairs)
# (ref src/processing/data_processing.py:38-69): when location contains
# '&' and pairs exist, rewrite as the ordered-deduped city prefixes of the
# pairs joined by ', '; otherwise pass through.
# --------------------------------------------------------------------------
def refine_location(location: ColumnOrName, pairs: ColumnOrName) -> Column:
    loc, ps = _col(location), _col(pairs)
    cities = F.transform(
        ps,
        lambda item: F.when(
            F.instr(item, ":") > 0, F.trim(F.substring_index(item, ":", 1))
        ).otherwise(F.trim(item)),
    )
    # array_distinct preserves first-occurrence order (Spark semantics),
    # matching the reference's seen-set loop.
    joined = F.array_join(F.filter(F.array_distinct(cities), lambda c: c != ""), ", ")
    use_pairs = loc.contains("&") & ps.isNotNull() & (F.size(ps) > 0)
    return F.when(use_pairs, joined).otherwise(loc)


# --------------------------------------------------------------------------
# F10: extract_location_pairs_list — prefer the location_pairs array;
# fall back to decomposing location ('City │ D1, D2' → ['City:D1','City:D2'])
# (ref src/processing/data_prepare.py:477-540).
# --------------------------------------------------------------------------
def location_pairs_from_fields(
    pairs: ColumnOrName, location: ColumnOrName
) -> Column:
    ps, loc = _col(pairs), _col(location)
    loc_t = F.trim(loc)
    city = F.trim(F.substring_index(loc_t, "│", 1))
    rest = F.trim(F.substring(loc_t, F.instr(loc_t, "│") + 1, F.lit(2147483647)))
    from_bar = F.filter(
        F.transform(
            F.split(rest, ","),
            lambda d: F.when(F.trim(d) != "", F.concat(city, F.lit(":"), F.trim(d))),
        ),
        lambda x: x.isNotNull(),
    )
    fallback = (
        F.when(loc.isNull() | (loc_t == ""), F.array().cast("array<string>"))
        .when(loc_t.contains("│"), from_bar)
        .otherwise(F.array(loc_t))
    )
    return F.when((ps.isNotNull()) & (F.size(ps) > 0), ps).otherwise(fallback)


# --------------------------------------------------------------------------
# F8/F9: parse_job_location — pure-Python core + pandas UDF.
# --------------------------------------------------------------------------
def parse_single_location_item(item: str) -> list[tuple[str | None, str | None, str | None]]:
    """One location item → [(province, city, district)] (ref
    src/processing/data_prepare.py:594-652):

    - '│'-separated: 2 segments → (None, city, district); 3 (or more) →
      (province, city, district); 1 → (None, seg, None).
    - 'a:b': if b has commas, each piece is a district of city a unless it
      contains 'TP' (then (a, piece, None)); single b containing 'TP' →
      (a, b, None) i.e. province:city; else (None, a, b) i.e. city:district.
    - bare string → (None, item, None).
    """
    item = item.strip()
    out: list[tuple[str | None, str | None, str | None]] = []
    if "│" in item:
        segs = [s.strip() for s in item.split("│") if s.strip()]
        if len(segs) == 2:
            out.append((None, segs[0], segs[1]))
        elif len(segs) >= 3:
            out.append((segs[0], segs[1], segs[2]))
        elif len(segs) == 1:
            out.append((None, segs[0], None))
    elif ":" in item:
        part1, part2 = (p.strip() for p in item.split(":", 1))
        if "," in part2:
            for district in (d.strip() for d in part2.split(",")):
                if not district:
                    continue
                if "TP" in district.upper():
                    out.append((part1, district, None))
                else:
                    out.append((None, part1, district))
        elif "TP" in part2.upper():
            out.append((part1, part2, None))
        else:
            out.append((None, part1, part2))
    else:
        out.append((None, item, None))
    return out


def parse_job_location(location_str: object) -> list[tuple[str | None, str | None, str | None]]:
    """String (JSON list / python-literal list / plain) → location tuples;
    empty/unparseable → [(None, 'Unknown', None)]
    (ref src/processing/data_prepare.py:542-591)."""
    if not isinstance(location_str, str) or not location_str.strip():
        return [(None, "Unknown", None)]
    items: list[str] = []
    try:
        parsed = json.loads(location_str)
        if isinstance(parsed, list):
            items = [str(i).strip() for i in parsed if str(i).strip()]
        else:
            items = [location_str.strip()]
    except (json.JSONDecodeError, TypeError):
        s = location_str.strip()
        if s.startswith("[") and s.endswith("]"):
            try:
                lit = ast.literal_eval(s)
                items = (
                    [str(i).strip() for i in lit if str(i).strip()]
                    if isinstance(lit, list)
                    else [s]
                )
            except (ValueError, SyntaxError):
                items = [s]
        else:
            items = [s]
    out: list[tuple[str | None, str | None, str | None]] = []
    for item in items:
        if item and item.strip():
            out.extend(parse_single_location_item(item))
    return out if out else [(None, "Unknown", None)]


def _parse_pairs_value(value: object) -> list[tuple[str | None, str | None, str | None]]:
    """An already-materialized array of pair strings → tuples (the
    in-engine path: location_pairs is a real array column)."""
    if value is None or (isinstance(value, float) and pd.isna(value)):
        return [(None, "Unknown", None)]
    if isinstance(value, str):
        return parse_job_location(value)
    items = [str(i).strip() for i in list(value) if str(i).strip()]
    out: list[tuple[str | None, str | None, str | None]] = []
    for item in items:
        out.extend(parse_single_location_item(item))
    return out if out else [(None, "Unknown", None)]


@F.pandas_udf(LOCATION_STRUCT)
def parse_locations_udf(pairs: pd.Series) -> pd.Series:
    """array<string> location_pairs (or string) → array<struct<province,
    city, district>>. Explode downstream to build DimLocation + bridge."""
    return pairs.map(
        lambda v: [
            {"province": p, "city": c, "district": d} for (p, c, d) in _parse_pairs_value(v)
        ]
    )


def staging_locations() -> Column:
    """A staging row's parsed (province, city, district) tuples:
    ``location_pairs`` when non-empty, else ``[location]``, else an empty
    array (parsed to the 'Unknown' fallback). DimLocation and the bridge
    both resolve locations through this one expression, so a bridge
    tuple always has a dimension row to match."""
    pairs = F.col("location_pairs")
    return parse_locations_udf(
        F.when(pairs.isNotNull() & (F.size(pairs) > 0), pairs).otherwise(
            F.when(F.col("location").isNotNull(), F.array(F.col("location")))
            .otherwise(F.array().cast("array<string>"))
        )
    )
