"""Masking / privacy expression library.

Every function here maps a ``Column`` (or column name) to a ``Column`` built
purely from ``pyspark.sql.functions`` — JVM-side, whole-stage-codegen'd, no
Python in the hot path. Semantics reproduce the reference macros exactly,
including their quirks (double-space phone mask, NULL-on-empty-string guard).
The ``*_sql`` functions hold the SQL text of a formula that the publish
path builds inside one parsed projection (see ``functions/sqltext.py``);
their ``Column`` forms parse that same text.

Reference parity map (file:line in /root/reference):
    mask_email            dbt_project/macros/privacy/mask_email.sql:30-54
    is_valid_email        mask_email.sql:71-77
    extract_email_domain  mask_email.sql:94-108
    mask_phone            mask_phone.sql:29-43
    extract_country_code  mask_phone.sql:66-80
    normalize_phone       mask_phone.sql:98-111
    is_valid_phone        mask_phone.sql:128-139
    mask_coordinates      mask_coordinates.sql:34-38
    are_valid_coordinates mask_coordinates.sql:58-65
    haversine_distance    mask_coordinates.sql:89-99
    create_geohash        mask_coordinates.sql:124-133
    mask_full_coordinates mask_coordinates.sql:152-157
    suppress              mask_columns.sql:19-21
    surrogate_key         dbt_utils.generate_surrogate_key (packages.yml:37)

Precision-reduction note: the reference rounds via DuckDB
``round(cast(x as numeric), p)``. DuckDB's and Spark's ``round`` on DOUBLE
disagree on half-way binary values (measured 8/3011 mismatches), while a
decimal cast agrees bit-for-bit in both engines (0/3011). We therefore reduce
precision with ``cast(decimal(18,p))`` — the same "keep p decimals, half-up"
semantic, deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dbt_gdpr_anonymizer_spark.config import ANON_EMAIL_DOMAIN
from dbt_gdpr_anonymizer_spark.functions.sqltext import sql_ident, sql_str

__all__ = [
    "mask_email",
    "mask_email_sql",
    "mask_phone",
    "mask_phone_sql",
    "mask_coordinates",
    "mask_coordinates_sql",
    "suppress",
    "mask_full_coordinates",
    "create_geohash",
    "geohash_sql",
    "haversine_distance",
    "extract_country_code",
    "normalize_phone",
    "is_valid_phone",
    "is_valid_email",
    "extract_email_domain",
    "are_valid_coordinates",
    "surrogate_key",
    "surrogate_key_sql",
    "luhn_check",
    "iban_valid",
    "nir_valid",
    "generalize_date",
    "generalize_date_sql",
    "fpe_digits",
    "fpe_digits_sql",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _guard_sql(c: str, masked: str) -> str:
    """``masked`` only when the value is non-null and non-empty, as SQL
    text.

    Reference guard ``col is not null and col != ''`` (mask_email.sql:33):
    empty string masks to NULL, not to a masked string. A CASE with no
    ELSE releases a NULL of the masked type.
    """
    return f"CASE WHEN {c} IS NOT NULL AND {c} != '' THEN {masked} END"


def mask_email_sql(c: str, salt: str, output_domain: str = ANON_EMAIL_DOMAIN) -> str:
    """Irreversible pseudonymization ``user_<16 hex of
    sha256(lower(trim(e))||salt)>@domain`` as SQL text over a SQL
    expression.

    ``sha2(..., 256)`` already yields lowercase hex, collapsing the
    reference's ``to_hex(sha256(...))`` pair.
    """
    return _guard_sql(
        c,
        f"concat('user_', substring(sha2(concat(lower(trim({c})), "
        f"{sql_str(salt)}), 256), 1, 16), {sql_str('@' + output_domain)})",
    )


def mask_email(c: str, salt: str, output_domain: str = ANON_EMAIL_DOMAIN) -> Column:
    """:func:`mask_email_sql` over a column name."""
    return F.expr(mask_email_sql(sql_ident(c), salt, output_domain))


def mask_phone_sql(c: str, keep_chars: int = 6) -> str:
    """Partial masking as SQL text over a SQL expression: first
    ``keep_chars`` chars of the trimmed value + ``' XX XX XX XX'``.

    Keeps the reference's quirk: ``'+33 1 '`` (trailing space) + mask gives a
    double space. Do not "fix".
    """
    return _guard_sql(
        c, f"concat(substring(trim({c}), 1, {keep_chars}), ' XX XX XX XX')"
    )


def mask_phone(c: str, keep_chars: int = 6) -> Column:
    """:func:`mask_phone_sql` over a column name."""
    return F.expr(mask_phone_sql(sql_ident(c), keep_chars))


def mask_coordinates_sql(c: str, precision: int = 2) -> str:
    """Precision reduction to ``precision`` decimals (2 ≈ 1.1 km) as SQL
    text over a SQL expression."""
    return f"cast(cast(cast({c} as double) as decimal(18,{precision})) as double)"


def mask_coordinates(c: str, precision: int = 2) -> Column:
    """:func:`mask_coordinates_sql` over a column name."""
    return F.expr(mask_coordinates_sql(sql_ident(c), precision))


def suppress(c: Column | str) -> Column:  # noqa: ARG001 - signature symmetry
    """Full suppression → typed NULL (string, matching SQL ``null as col``)."""
    return F.lit(None).cast("string")


def mask_full_coordinates(
    lat: Column | str, lon: Column | str
) -> tuple[Column, Column]:
    """Both coordinates suppressed (reference defines it, never calls it)."""
    return F.lit(None).cast("double"), F.lit(None).cast("double")


def geohash_sql(lat: str, lon: str, precision: int = 2) -> str:
    """Pseudo-geohash ``geo_<round(lat,p)>_<round(lon,p)>`` as SQL text
    over two SQL expressions.

    String rendering goes through the decimal cast so both Spark and DuckDB
    format identically (e.g. ``48.86``, with trailing zeros like ``48.90``).
    """
    la, lo = (
        f"cast(cast(cast({c} as double) as decimal(18,{precision})) as string)"
        for c in (lat, lon)
    )
    return f"concat('geo_', {la}, '_', {lo})"


def create_geohash(lat: str, lon: str, precision: int = 2) -> Column:
    """:func:`geohash_sql` over two column names."""
    return F.expr(geohash_sql(sql_ident(lat), sql_ident(lon), precision))


def haversine_distance(
    lat1: Column | str, lon1: Column | str, lat2: Column | str, lon2: Column | str
) -> Column:
    """Great-circle distance in km (haversine), all JVM math functions."""
    la1, lo1, la2, lo2 = (_col(x) for x in (lat1, lon1, lat2, lon2))
    return (
        F.lit(6371.0)
        * F.lit(2.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(la2 - la1) / 2), 2)
                + F.cos(F.radians(la1))
                * F.cos(F.radians(la2))
                * F.pow(F.sin(F.radians(lo2 - lo1) / 2), 2)
            )
        )
    )


def extract_country_code(c: Column | str) -> Column:
    """Country code = chars up to the first space, only for ``+...`` numbers."""
    c = _col(c)
    return F.when(
        c.like("+%"), c.substr(F.lit(1), F.instr(c, " "))
    ).otherwise(F.lit(None))


def normalize_phone(c: Column | str) -> Column:
    """Strip ``' '``, ``'-'``, ``'.'``, ``'('`` from the trimmed value."""
    c = F.trim(_col(c))
    for ch in (" ", "-", ".", "("):
        c = F.replace(c, F.lit(ch), F.lit(""))
    return c


def is_valid_phone(c: Column | str) -> Column:
    """``(LIKE '+%' OR LIKE '0%') AND length(normalized) >= 10``."""
    c = _col(c)
    return (c.like("+%") | c.like("0%")) & (F.length(normalize_phone(c)) >= 10)


def is_valid_email(c: Column | str) -> Column:
    """Basic format check: ``LIKE '%@%.%' AND NOT LIKE '%@%.@%' AND len >= 5``."""
    c = _col(c)
    return c.like("%@%.%") & ~c.like("%@%.@%") & (F.length(c) >= 5)


def extract_email_domain(c: Column | str) -> Column:
    """Lower-cased substring after ``@`` when the value is a valid email."""
    c = _col(c)
    return F.when(
        is_valid_email(c), F.lower(c.substr(F.instr(c, "@") + 1, F.length(c)))
    ).otherwise(F.lit(None))


def are_valid_coordinates(lat: Column | str, lon: Column | str) -> Column:
    """Not-null and lat ∈ [-90, 90], lon ∈ [-180, 180]."""
    la, lo = _col(lat), _col(lon)
    return (
        la.isNotNull()
        & lo.isNotNull()
        & la.between(-90, 90)
        & lo.between(-180, 180)
    )


def surrogate_key_sql(*cols: str) -> str:
    """md5 over null-coalesced string casts, dbt_utils-compatible, as SQL
    text over SQL expressions.

    ``generate_surrogate_key`` coalesces each field to the sentinel below and
    joins multiple fields with ``'-'``.
    """
    parts = [
        f"coalesce(cast({c} as string), '_dbt_utils_surrogate_key_null_')"
        for c in cols
    ]
    joined = parts[0] if len(parts) == 1 else f"concat_ws('-', {', '.join(parts)})"
    return f"md5({joined})"


def surrogate_key(*cols: str) -> Column:
    """:func:`surrogate_key_sql` over column names."""
    return F.expr(surrogate_key_sql(*map(sql_ident, cols)))


def luhn_check(c: Column | str) -> Column:
    """True when the digit string passes the Luhn mod-10 checksum — the
    validation layer a credit-card PII scan needs on top of a digit-run
    regex (13-19 digit runs are common in invoices/ids; only
    checksum-valid runs are actual card-number candidates, which keeps
    the false-positive rate of an erasure/masking pass sane).

    Pure higher-order Column expression (transform + aggregate over the
    reversed digits, doubling every second one) — whole-stage codegen,
    no UDF, and the identical arithmetic is expressible with DuckDB list
    lambdas, so oracle queries verify the same checksum. The reversed
    string is a captured expression re-evaluated per element (README
    lambda-capture rule); at ≤19 elements per candidate that is cheaper
    than a pre-projection shuffle column.
    """
    s = F.reverse(_col(c))

    def digit(i: Column) -> Column:
        return F.ascii(s.substr(i + F.lit(1), F.lit(1))) - F.lit(48)

    def term(i: Column) -> Column:
        doubled = digit(i) * 2
        return F.when(i % 2 == 0, digit(i)).otherwise(
            F.when(doubled > 9, doubled - 9).otherwise(doubled)
        )

    total = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.length(s) - 1), term),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return total % 10 == 0


def iban_valid(c: Column | str) -> Column:
    """True when the string is a structurally-valid IBAN under the ISO 13616
    mod-97 check — the bank-account counterpart of :func:`luhn_check` for
    a financial-PII scan (an uppercase alphanumeric run is only an IBAN
    FINDING when the checksum passes).

    Shape check (2 letters, 2 digits, 11-30 alphanumerics, total 15-34),
    then the standard rearrangement (chars 5.. ‖ chars 1-4) with letters
    expanded A→10..Z→35 and the running remainder folded per character —
    ``(acc·10 + d) % 97`` for a digit, ``(acc·100 + v) % 97`` for a
    letter's two digits — must equal 1. Pure higher-order Column
    expression (transform + aggregate), whole-stage codegen, no UDF; the
    identical arithmetic runs in DuckDB list lambdas for oracle parity.
    """
    s = F.upper(_col(c))
    r = F.concat(s.substr(F.lit(5), F.length(s)), F.substring(s, 1, 4))

    def val(i: Column) -> Column:
        ch = F.ascii(r.substr(i, F.lit(1)))
        return F.when(ch <= 57, ch - 48).otherwise(ch - 55)

    rem = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.length(r)), val),
        F.lit(0),
        lambda acc, v: F.when(v < 10, (acc * 10 + v) % 97).otherwise(
            (acc * 100 + v) % 97
        ),
    )
    return (
        s.rlike("^[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}$")
        & F.length(s).between(15, 34)
        & (rem == 1)
    )


def generalize_date_sql(c: str, granularity: str = "month") -> str:
    """Temporal generalization: truncate a date/timestamp to ``month`` /
    ``quarter`` / ``year``, as SQL text over a SQL expression — the date
    counterpart of coordinate rounding (precision reduction, not
    suppression). An EXTENSION method beyond the reference's four (its
    ladder stops at round_2_decimals for coordinates); registered in the
    policy dispatcher as ``generalize_to_month`` so schema metadata can
    select it exactly like the reference methods. NULL-safe (date_trunc
    propagates NULL); pure codegen."""
    if granularity not in ("month", "quarter", "year"):
        raise ValueError("granularity must be month, quarter, or year")
    return f"date_trunc('{granularity.upper()}', {c})"


def generalize_date(c: str, granularity: str = "month") -> Column:
    """:func:`generalize_date_sql` over a column name."""
    return F.expr(generalize_date_sql(sql_ident(c), granularity))


def nir_valid(c: Column | str) -> Column:
    """True when the string is a structurally-valid French NIR (the INSEE
    social-security number — THE national identifier a French-GDPR
    deployment like the reference's services-publics pipeline must catch)
    under the official mod-97 key: 15 digits, first digit 1/2 (sex), and
    the last two digits equal ``97 − (first 13 digits mod 97)``.

    The 13-digit body fits a BIGINT, so the check is one cast + one
    modulo — per-row whole-stage codegen, no UDF; the identical
    arithmetic runs in the DuckDB oracle. (Corsican 2A/2B department
    codes use a letter substitution and are out of scope for the numeric
    fast path — they'd fail the all-digit shape check, not validate
    wrongly.)
    """
    s = _col(c)
    body = F.substring(s, 1, 13).cast("bigint")
    key = F.substring(s, 14, 2).cast("bigint")
    return s.rlike("^[12][0-9]{14}$") & (key == 97 - body % 97)


def fpe_digits_sql(c: str, salt: str) -> str:
    """Format-preserving pseudonymization of the DIGITS in a string, as
    SQL text over a SQL expression: each digit at position i maps to
    ``(d + k_i) mod 10`` where the per-position key stream ``k_i``
    derives from md5(salt, i) — every non-digit character (separators,
    country prefixes '+', spacing) passes through untouched, so
    downstream format validators and parsers keep working on the masked
    value. This is the FPE method CLASS (NIST FF1/FF3's contract — masked
    output inhabits the input format) with a keystream cipher standing in
    for the AES Feistel rounds: same format guarantees, same
    reversibility-with-key (subtract the keystream), NOT
    cryptographic-grade diffusion — the docstring contract states it.
    The REAL cipher exists since r6: ``functions/fpe.py`` implements NIST
    SP 800-38G FF1 over AES-128 (NIST-vector-validated), exposed as the
    ``fpe_ff1`` policy method (Arrow-batched pandas UDF — per-row AES
    cannot be a Catalyst expression); this keystream twin remains the
    codegen/oracle-checkable tier of the same method class.

    Pure higher-order expression (transform over the char sequence +
    array_join), whole-stage codegen, no UDF; identical list arithmetic
    replays in the DuckDB oracle. NULL/empty guard matches the
    reference's mask guard. The lambda variable is named so that it
    cannot capture a name inside ``c``.
    """
    i = "_fpe_i"
    while i in c.lower():
        i += "_"
    ch = f"substring({c}, {i}, 1)"
    # per-position key digit: first hex nibble of md5(salt:i) mod 10
    k = (
        f"cast(conv(substring(md5(concat({sql_str(salt + ':')}, "
        f"cast({i} as string))), 1, 1), 16, 10) as int) % 10"
    )
    shifted = (
        f"CASE WHEN {ch} >= '0' AND {ch} <= '9' "
        f"THEN chr(cast(((ascii({ch}) - 48) + ({k})) % 10 + 48 as bigint)) "
        f"ELSE {ch} END"
    )
    return _guard_sql(
        c,
        f"array_join(transform(sequence(1, length({c})), {i} -> {shifted}), '')",
    )


def fpe_digits(c: str, salt: str) -> Column:
    """:func:`fpe_digits_sql` over a column name."""
    return F.expr(fpe_digits_sql(sql_ident(c), salt))
