"""Column-expression helpers (SURVEY.md §2.6) — no Python UDFs.

Each helper re-expresses a scalar function from the reference as a pure
``pyspark.sql.functions`` composition, so it stays inside whole-stage
codegen and is pushdown/codegen friendly at 100 TB. Reference citations
are to ``/root/reference``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def parse_eu_decimal(c: Column | str) -> Column:
    """EU decimal-comma money string → double ("3,63" → 3.63).

    Reference: etl/transformers/midocean_transformer.py:491-502.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, ",", ".").cast("double")


def parse_thousands_int(c: Column | str) -> Column:
    """Thousands-separated int string → long ("1.000" → 1000).

    Reference: etl/transformers/midocean_transformer.py:504-515.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, "[.,]", "").cast("long")


def parse_money(c: Column | str) -> Column:
    """Currency-symbol-prefixed money → double ("£23.50" → 23.5).

    Reference: unparsed Laltex prices, flat-structure/laltex.json:12-13;
    target mapping unified.jsonc:296-304.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(c, r"[^0-9.\-]", "").cast("double")


def yes_no_bool(c: Column | str) -> Column:
    """Stringly boolean: 'yes' (any case) → true, else false.

    Reference: etl/transformers/midocean_transformer.py:171.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.lower(F.coalesce(c, F.lit(""))) == "yes"


ACTIVE_SENTINEL = "2099-12-31"


def derive_status(discontinued_date: Column | str, plc_status: Column | str) -> Column:
    """'discontinued' if the discontinued date is real (≠ 2099-12-31
    sentinel, non-empty) or the PLC status mentions DISCONTINUED, else
    'active'. Falsy ''/null dates are ACTIVE — the reference's
    ``if discontinued_date and ...`` truthiness check.

    Reference: etl/transformers/midocean_transformer.py:477-489.
    """
    d = F.col(discontinued_date) if isinstance(discontinued_date, str) else discontinued_date
    s = F.col(plc_status) if isinstance(plc_status, str) else plc_status
    discontinued = (d.isNotNull() & (d != "") & (d != ACTIVE_SENTINEL)) | F.upper(
        F.coalesce(s, F.lit(""))
    ).contains("DISCONTINUED")
    return F.when(discontinued, F.lit("discontinued")).otherwise(F.lit("active"))


def prettify_subtype(c: Column | str) -> Column:
    """snake_case → Title Case ("item_picture_front" → "Item Picture Front").

    Reference: etl/transformers/midocean_transformer.py:313.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.initcap(F.replace(c, F.lit("_"), F.lit(" ")))


def synth_product_id(supplier: str, code: Column | str) -> Column:
    """Deterministic id synthesis f"{supplier}_{code}".

    Reference: etl/transformers/midocean_transformer.py:130.
    """
    c = F.col(code) if isinstance(code, str) else code
    return F.concat(F.lit(supplier + "_"), c)


def parse_feed_date(c: Column | str) -> Column:
    """'%Y-%m-%d' feed date → DateType.

    Reference: etl/transformers/midocean_transformer.py:344-346.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.to_date(c, "yyyy-MM-dd")


def dims_from_string(c: Column | str) -> Column:
    """Parse a combined dimension string like "10,5X8X2 CM" into a
    struct<length double, width double, height double, unit string>.

    Reference source field: sample data dimension strings (SURVEY F17);
    the reference parses pre-split fields instead — this covers feeds
    that only ship the combined form.
    """
    c = F.col(c) if isinstance(c, str) else c
    norm = F.upper(F.regexp_replace(c, r"\s+", ""))
    # leading numeric XxYxZ (or XxY) prefix, split on X; missing parts → null
    parts = F.split(F.regexp_extract(norm, r"^([\d.,]+(?:X[\d.,]+)*)", 1), "X")
    num = lambda i: parse_eu_decimal(  # noqa: E731 — '' → null, never an ANSI cast error
        F.nullif(F.try_element_at(parts, F.lit(i)), F.lit(""))
    )
    unit = F.lower(F.regexp_extract(norm, r"([A-Z]+)$", 1))
    # a trailing word only counts as a unit when a numeric prefix parsed
    has_dims = F.nullif(F.try_element_at(parts, F.lit(1)), F.lit("")).isNotNull()
    return F.struct(
        num(1).alias("length"),
        num(2).alias("width"),
        num(3).alias("height"),
        F.when((unit == "") | ~has_dims, None).otherwise(unit).alias("unit"),
    )


def token_count(c: Column | str) -> Column:
    """Whitespace token count of a text column (0 for empty/null)."""
    c = F.col(c) if isinstance(c, str) else c
    trimmed = F.trim(F.coalesce(c, F.lit("")))
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+"))).cast("long")
