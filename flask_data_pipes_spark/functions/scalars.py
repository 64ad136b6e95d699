"""Scalar function library — the reference's transform vocabulary as Spark
column expressions (SURVEY.md §2.2, P5-P18).

Every function here is a pure Column expression built from
``pyspark.sql.functions`` — JVM-side, whole-stage-codegen friendly, no
Python UDFs in the hot path (the two IP helpers that genuinely need
``ipaddress`` semantics beyond IPv4 arithmetic are separate, clearly
marked, and not used by the built-in pipelines).

Null-safety contract: the reference's helpers are all None-tolerant
(reference: flask_data_pipes/data_pipes/utils.py:104-177 — AttributeError
⇒ pass-through). Spark built-ins are null-safe by construction, so each
expression returns NULL for NULL input unless documented otherwise.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "lowercase",
    "uppercase",
    "titlecase",
    "booler",
    "recast_null",
    "recast_timestamp",
    "recast_ip",
    "ip_to_int",
    "recast_mac",
    "strip_trailing_slash",
    "splitter",
    "parse_hostname",
    "hostname",
    "content_hash",
    "cidr_hosts",
    "camel_to_snake_case",
    "flatten_deep",
    "lenient_date",
    "lenient_timestamp",
    "lenient_time",
    "epoch_us",
    "epoch_seconds",
    "zorder_key",
]

ColumnOrName = Union[Column, str]

_TRUTHY = ["yes", "y", "1", "true", "t"]
_FALSY = ["no", "n", "0", "false", "f"]


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def lowercase(c: ColumnOrName) -> Column:
    """Null-safe lowercase (reference utils.py:104-110)."""
    return F.lower(_col(c))


def uppercase(c: ColumnOrName) -> Column:
    """Null-safe uppercase (reference utils.py:113-119)."""
    return F.upper(_col(c))


def titlecase(c: ColumnOrName) -> Column:
    """Null-safe title case (reference utils.py:122-128).

    Python ``str.title()`` upper-cases the first letter of every alpha
    run — i.e. any letter preceded by a non-letter (apostrophes, digits,
    punctuation included: ``"o'neil" -> "O'Neil"``); Spark ``initcap``
    only breaks on whitespace. Exact JVM-side replication: lowercase,
    split after every non-letter via lookbehind, uppercase each part's
    first char, rejoin. Pure built-ins, no UDF.
    """
    c = _col(c)
    parts = F.split(F.lower(c), r"(?<=[^a-z])", -1)
    fixed = F.transform(
        parts,
        lambda p: F.concat(F.upper(F.substring(p, 1, 1)), F.substr(p, F.lit(2))),
    )
    return F.array_join(fixed, "")


def booler(c: ColumnOrName, strict: bool = True) -> Column:
    """Tolerant bool cast (reference utils.py:131-143).

    {yes,y,1,true,t} → true; {no,n,0,false,f} → false; ''/NULL → NULL.
    strict=True raises on any other token (the reference raises
    ValueError); strict=False yields NULL instead (distributed-friendly).
    """
    c = _col(c)
    s = F.lower(c.cast("string"))
    base = (
        F.when(c.isNull() | (c.cast("string") == ""), F.lit(None).cast("boolean"))
        .when(s.isin(_TRUTHY), F.lit(True))
        .when(s.isin(_FALSY), F.lit(False))
    )
    if strict:
        return base.otherwise(
            F.raise_error(
                F.format_string("Unexpected string: cannot convert '%s' to a bool", s)
            ).cast("boolean")
        )
    return base.otherwise(F.lit(None).cast("boolean"))


def epoch_us(c: ColumnOrName) -> Column:
    """Timestamp → microseconds since epoch, accepting both TIMESTAMP
    and TIMESTAMP_NTZ inputs (parquet files written without a timezone
    load as NTZ, which `unix_micros`/`cast(bigint)` reject in Spark 4).
    The NTZ→LTZ cast reads the naive value in the session timezone; the
    engine pins that to UTC (session.py), so this equals DuckDB's
    `epoch_us(ts)` on the same naive value."""
    return F.unix_micros(_col(c).cast("timestamp"))


def epoch_seconds(c: ColumnOrName) -> Column:
    """Timestamp → whole seconds since epoch; NTZ-safe like
    [`epoch_us`]. Sub-second precision is truncated, matching what
    `CAST(ts AS LONG)` did for TIMESTAMP inputs."""
    return F.to_unix_timestamp(_col(c).cast("timestamp"))


def recast_null(c: ColumnOrName) -> Column:
    """Empty string → NULL (reference utils.py:146-151)."""
    return F.nullif(_col(c), F.lit(""))


def recast_timestamp(c: ColumnOrName) -> Column:
    """Epoch-milliseconds → timestamp (reference utils.py:154-160).

    The reference uses local time (`datetime.fromtimestamp`); the engine
    standardizes on UTC (session timezone pinned in session.py) —
    documented divergence, intent preserved.
    """
    return F.timestamp_millis(_col(c).cast("long"))


def recast_ip(c: ColumnOrName) -> Column:
    """IPv4 int → dotted-quad string (reference utils.py:163-169).

    Pure arithmetic — no UDF: four byte extractions + concat_ws. Values
    outside [0, 2^32) → NULL (the reference raises ValueError → None in
    its explode path). IPv6 integers are out of scope for the built-in
    (reference's `ipaddress.ip_address` would emit IPv6 for larger ints;
    use `recast_ip_py` for full parity when genuinely needed).
    """
    c = _col(c).cast("long")
    valid = c.isNotNull() & (c >= 0) & (c <= F.lit(4294967295))
    octet = lambda n: F.shiftrightunsigned(c, n).bitwiseAND(F.lit(255))  # noqa: E731
    quad = F.concat_ws(".", octet(24), octet(16), octet(8), octet(0))
    return F.when(valid, quad).otherwise(F.lit(None).cast("string"))


def ip_to_int(c: ColumnOrName) -> Column:
    """Dotted-quad IPv4 (optionally with /cidr suffix) → long
    (reference utils.py:220-224, `int(ip_interface(addr))`).

    Pure expression: strip any /suffix, validate shape, combine octets.
    Invalid → NULL (reference catches ValueError → None).
    """
    c = _col(c).cast("string")
    ip = F.split(c, "/", 2).getItem(0)
    parts = F.split(ip, "\\.", -1)
    ok = ip.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    octets_ok = F.forall(
        F.transform(parts, lambda p: p.cast("int") <= 255), lambda x: x
    )
    value = (
        parts.getItem(0).cast("long") * 16777216
        + parts.getItem(1).cast("long") * 65536
        + parts.getItem(2).cast("long") * 256
        + parts.getItem(3).cast("long")
    )
    return F.when(ok & octets_ok, value).otherwise(F.lit(None).cast("long"))


def recast_mac(c: ColumnOrName) -> Column:
    """MAC normalize: '-' → ':' (reference utils.py:172-177)."""
    return F.translate(_col(c), "-", ":")


def strip_trailing_slash(c: ColumnOrName) -> Column:
    """Strip ONE trailing slash (reference utils.py:62-72 checks only
    data[-1]; note the reference returns None for a non-slash-terminated
    string due to its try/else structure — a bug; we preserve *intent*:
    pass-through)."""
    c = _col(c)
    return F.when(c.endswith("/"), F.substring(c, 1, F.length(c) - 1)).otherwise(c)


def splitter(c: ColumnOrName, left: bool = False, right: bool = False) -> Column:
    r"""Split 'domain\cn' (reference utils.py:84-101).

    right=True → last element; left=True → first; neither → array of
    parts. NULL input → NULL (reference returns None/(None,None)).
    """
    parts = F.split(_col(c), r"\\", -1)
    if right:
        return F.element_at(parts, -1)
    if left:
        return parts.getItem(0)
    return parts


def parse_hostname(c: ColumnOrName) -> Column:
    r"""Hostname parser (reference fields.py:85-105, HostName field).

    'DOMAIN\host'  → struct(host=HOST upper, domain=DOMAIN, fqdn=NULL)
    'host.dom.tld' → struct(host=HOST upper, domain=NULL, fqdn=original)
    'host'         → struct(host=HOST upper, domain=NULL, fqdn=NULL)
    NULL           → struct(NULL, NULL, NULL)

    The reference's `_domain`/`_fqdn` side-channel attributes (a
    documented bug when obj is a dict, fields.py:94) become explicit
    struct fields — same information, sound distributed semantics.
    Note the reference upper-cases only the *first* label for dotted
    names (split('.', 1)[0].upper()) and element [1] for backslash names
    (split('\\')[1], not [-1]).
    """
    c = _col(c).cast("string")
    bs = F.split(c, r"\\", -1)
    dot = F.split(c, r"\.", 2)
    has_bs = F.size(bs) > 1
    has_dot = F.size(dot) > 1
    host = (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(has_bs, F.upper(bs.getItem(1)))
        .when(has_dot, F.upper(dot.getItem(0)))
        .otherwise(F.upper(c))
    )
    domain = F.when(has_bs, bs.getItem(0)).otherwise(F.lit(None).cast("string"))
    fqdn = F.when(~has_bs & has_dot, c).otherwise(F.lit(None).cast("string"))
    return F.struct(
        host.alias("host"), domain.alias("domain"), fqdn.alias("fqdn")
    )


def hostname(c: ColumnOrName) -> Column:
    """Just the HOST part of parse_hostname (the field's return value)."""
    return parse_hostname(c).getField("host")


def content_hash(c: ColumnOrName) -> Column:
    """Content hash (reference utils.py:35-36: fn *named* sha256 but
    computing SHA-224 — we replicate the 224-bit behavior and document
    the naming quirk)."""
    return F.sha2(_col(c).cast("string"), 224)


def camel_to_snake_case(name: str) -> str:
    """Column-name normalization, driver-side (reference utils.py:181-192).

    Exact port of the reference regex semantics (it operates on column
    *names*, not data — runs on the driver, so plain Python is correct
    Spark usage here).
    """
    import re

    _camelcase_re = re.compile(r"([A-Z]+)(?=[a-z0-9])")

    def _join(match):
        word = match.group()
        if len(word) > 1:
            return ("_%s_%s" % (word[:-1], word[-1])).lower()
        return "_" + word.lower()

    return _camelcase_re.sub(_join, name).lstrip("_")


def flatten_deep(c: ColumnOrName, levels: int = 1) -> Column:
    """Deep-flatten nested arrays (reference utils.py:195-202 recursive
    generator). Spark arrays are homogeneously typed, so the nesting
    depth is static in the schema: `levels` = depth - 1 flatten passes
    reproduces the reference's full recursion exactly (its dynamic
    recursion only exists because Python lists are untyped)."""
    out = _col(c)
    for _ in range(levels):
        out = F.flatten(out)
    return out


def cidr_hosts(c: ColumnOrName) -> Column:
    """CIDR → array of host-address dotted quads (reference
    utils.py:204-217 `explode_ip_addrs` semantics, IPv4):

    - '/32' (or bare IP) → [ip]
    - '/31' → both addresses (ipaddress.hosts() special case)
    - '/p'  → every host of the network (network & broadcast excluded)
    - invalid → NULL (callers filter — reference silently skips)

    Pure expression: sequence over the network's host range. At scale the
    fan-out is a generator-style explode — no driver involvement.
    """
    c = _col(c).cast("string")
    parts = F.split(c, "/", 2)
    ip = parts.getItem(0)
    prefix = F.coalesce(
        F.when(F.size(parts) > 1, parts.getItem(1).cast("int")).otherwise(
            F.lit(32)
        ),
        F.lit(32),
    )
    ipi = ip_to_int(ip)
    n = F.pow(F.lit(2.0), (F.lit(32) - prefix).cast("double")).cast("long")
    network = (ipi / n).cast("long") * n  # ipi & mask, division form
    hosts = (
        F.when(prefix == 32, F.array(ipi))
        .when(prefix == 31, F.sequence(network, network + 1))
        .otherwise(F.sequence(network + 1, network + n - F.lit(2)))
    )
    valid = ipi.isNotNull() & prefix.isNotNull() & (prefix >= 0) & (prefix <= 32)
    return F.when(valid, F.transform(hosts, lambda h: recast_ip(h))).otherwise(
        F.lit(None).cast("array<string>")
    )


def lenient_date(c: ColumnOrName) -> Column:
    """Lenient Date serialization (reference fields.py:45-53): strings
    and NULLs pass through unchanged; date/timestamp values → ISO
    'yyyy-MM-dd'. Input dtype decides at compile time in the model layer;
    this expression handles a string column that may hold ISO dates."""
    c = _col(c)
    return F.when(c.isNull(), c).otherwise(c.cast("string"))


def lenient_timestamp(c: ColumnOrName, fmt: str = "yyyy-MM-dd'T'HH:mm:ssXXX") -> Column:
    """Lenient DateTime (reference fields.py:56-69): strings/NULL pass
    through; timestamps formatted ISO-8601."""
    c = _col(c)
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.date_format(c.cast("timestamp"), fmt)
    )


def lenient_time(c: ColumnOrName) -> Column:
    """Lenient Time (reference fields.py:72-82): HH:mm:ss, microseconds
    truncated to 15 chars (HH:mm:ss.SSSSSS)."""
    c = _col(c)
    formatted = F.date_format(c.cast("timestamp"), "HH:mm:ss.SSSSSS")
    no_micro = F.date_format(c.cast("timestamp"), "HH:mm:ss")
    has_micro = F.date_format(c.cast("timestamp"), "SSSSSS") != "000000"
    return F.when(has_micro, F.substring(formatted, 1, 15)).otherwise(no_micro)


def zorder_key(cols, bits: int = 16) -> Column:
    """Z-order (Morton) interleave key over 2+ integer columns — the
    multi-dimensional DATA LAYOUT primitive: sorting/range-partitioning
    a 100 TB table by this key clusters rows that are close in EVERY
    dimension into the same files/row-groups, so parquet min/max
    pruning works for predicates on ANY of the interleaved columns
    (sorting by one column alone prunes only that column). The same
    technique Delta/Iceberg expose as OPTIMIZE ZORDER BY, expressed as
    a plain codegen column — usable with `df.repartitionByRange(zkey)
    .sortWithinPartitions(zkey).write...` on any Spark.

    Callers pass columns already normalized to [0, 2^bits) (truncation
    is applied defensively via a mask); bit b of dimension d lands at
    output bit b*D + d. Pure shifts/masks — identical in any SQL
    engine, so catalog entries over it are DuckDB-oracle-checkable.
    `bits * len(cols)` must be ≤ 63.
    """
    D = len(cols)
    if D < 2:
        raise ValueError("zorder_key needs at least 2 columns")
    if bits * D > 63:
        raise ValueError(f"bits*dims = {bits * D} exceeds a signed long")
    out = F.lit(0).cast("long")
    mask = (1 << bits) - 1
    for d, c in enumerate(cols):
        x = _col(c).cast("long").bitwiseAND(F.lit(mask))
        for b in range(bits):
            out = out + F.shiftleft(
                F.shiftright(x, b).bitwiseAND(F.lit(1)), b * D + d
            )
    return out
