"""Scalar expressions F1–F13 (SURVEY §2.8) as native Column functions.

Every function here stays JVM-side (pure ``pyspark.sql.functions``
compositions — no Python UDFs), so they fold into whole-stage codegen
and never break predicate pushdown.  Reference citations are to
``/root/reference``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# OLE Automation date epoch (1899-12-30T00:00:00Z) in unix seconds.
# Reference: conv/gantner_operations/DataConverterUDBF.py:129-140 converts
# column 0 (days since 1899-12-30 as float64) to datetimes.
OLE_EPOCH_UNIX = -2209161600.0

# Filename timestamp pattern, reference conv/main_lpi.py:15-16 and
# helper/utility.py:8-27: e.g. "Logger1_2025-06-19_12-20-00.dat".
FILENAME_TS_RE = r"(\d{4}-\d{2}-\d{2})_(\d{2}-\d{2}-\d{2})"


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into a SQL text
    (the SQL-text kernels): embedded backticks are doubled — the Spark
    identifier escape — so a hostile or odd name can never break out
    of the quoted identifier and change the expression.  Anything but
    a ``str`` raises ``TypeError``: a Column here would otherwise
    become the identifier ```Column<'...'>``` and fail later as an
    unresolved column."""
    if not isinstance(name, str):
        raise TypeError(
            f"sql_ident expects a column name (str), got {type(name).__name__}"
        )
    return f"`{name.replace('`', '``')}`"


def ole_to_timestamp(days: Column) -> Column:
    """F2 — OLE Automation float days → TIMESTAMP.

    Reference: DataConverterUDBF.py:129-140 (days since 1899-12-30).
    Sub-millisecond float drift is inherent to the format; compare at ms
    granularity (SURVEY §7 hard parts).
    """
    return F.timestamp_seconds(days * F.lit(86400.0) + F.lit(OLE_EPOCH_UNIX))


def timestamp_to_ole(ts: Column) -> Column:
    """Inverse of :func:`ole_to_timestamp` (days since 1899-12-30 as DOUBLE).

    Computed from exact integer microseconds (one double division at the
    end) so the value is bit-deterministic across engines.
    """
    ole_micros = F.unix_micros(ts) - F.lit(int(OLE_EPOCH_UNIX) * 1_000_000)
    return ole_micros.cast("double") / F.lit(86400.0e6)


def comma_decimal(s: Column) -> Column:
    """F6 — parse a decimal-comma string ("3,14" → 3.14), NULL on junk.

    Reference: modbus/modbus_writer.py:114, file_analysis.py:34,71.
    """
    return F.regexp_replace(s, F.lit(","), F.lit(".")).try_cast("double")


def filename_timestamp(name: Column, mtime: Column | None = None) -> Column:
    """F1 — extract ``%Y-%m-%d_%H-%M-%S`` from a file name, mtime fallback.

    Reference: helper/utility.py:8-27 (regex + strptime, falls back to
    ``os.path.getmtime`` when the name doesn't parse).
    """
    date_part = F.regexp_extract(name, FILENAME_TS_RE, 1)
    time_part = F.regexp_extract(name, FILENAME_TS_RE, 2)
    parsed = F.to_timestamp(
        F.concat_ws(" ", date_part, time_part), "yyyy-MM-dd HH-mm-ss"
    )
    parsed = F.when(date_part != "", parsed)
    return F.coalesce(parsed, mtime) if mtime is not None else parsed


def content_id(*cols: Column | str) -> Column:
    """F8 — 16-hex-char content hash id over canonicalized fields.

    Reference: restapi/app_fs.py:42-51 (sha256 over canonical JSON of the
    payload, first 16 hex chars).  Canonical form here is a '|'-joined
    field list, which is deterministic and engine-portable.
    """
    return F.substring(F.sha2(F.concat_ws("|", *cols), 256), 1, 16)


def sanitize_channel(name: Column) -> Column:
    """F5 — channel-name cleanup: '-' → '_' (DataConverterUDBF.py:104)."""
    return F.regexp_replace(name, F.lit("-"), F.lit("_"))


def round_stats(c: Column, digits: int = 3) -> Column:
    """F7 — statistics rounding, env BASIC_ROUNDING default 3.

    Reference: DataConverterUDBF.py:256-258, udbf_file_analysis.py:19.
    Spark rounds HALF_UP (vs numpy banker's) — documented deviation,
    matching DuckDB's round for the oracle (SURVEY §7).
    """
    return F.round(c, digits)


def window_end_berlin(ts: Column) -> Column:
    """F11 — UTC ts + 10 min shifted to Europe/Berlin local time.

    Reference: udbf_file_analysis.py:133-143 (legacy alarm flow names the
    Allsat CSV after the Berlin-local end-of-window timestamp).
    """
    return F.from_utc_timestamp(ts + F.expr("INTERVAL 10 MINUTES"), "Europe/Berlin")


def time_parts(ts: Column) -> list[Column]:
    """F4 — ``Datum``/``Uhrzeit``/``Millisekunden`` projections.

    Reference: DataConverterUDBF.py:173-178 (strftime splits; ms = µs//1000).
    """
    return [
        F.date_format(ts, "yyyy-MM-dd").alias("Datum"),
        F.date_format(ts, "HH:mm:ss").alias("Uhrzeit"),
        ((F.unix_micros(ts) % 1_000_000) / 1000).cast("long").alias("Millisekunden"),
    ]


def relative_time(row_index: Column, sample_rate: Column) -> Column:
    """§1.1 relative-time vector: (row_number()-1)/sample_rate seconds.

    Reference: DataConverterUDBF.py:119-126 (arange(0, n/rate, 1/rate)).
    """
    return (row_index.cast("double") - F.lit(1.0)) / sample_rate


def upload_action(size: Column, remote_size: Column) -> Column:
    """P10/D4 — remote-dedup routing decision for one candidate file.

    Reference: uploader/main.py:77-85 — no remote counterpart under the
    plain name → upload; remote exists with the SAME size → skip; remote
    exists with a DIFFERENT size → upload under a ``.dup_<mtime>``
    rename.  The decision always compares against the PLAIN remote name:
    a prior rename cycle leaves the plain name's size unchanged, so a
    re-offered identical candidate keeps routing ``rename_dup`` (never
    ``skip``), and a candidate whose size now matches the plain remote
    again routes ``skip`` even if ``.dup`` copies exist.
    """
    return (
        F.when(remote_size.isNull(), F.lit("upload"))
        .when(remote_size == size, F.lit("skip"))
        .otherwise(F.lit("rename_dup"))
    )


def is_10min_aligned(ts: Column) -> Column:
    """P4 — alignment predicate: minute %% 10 == 0 and second == 0.

    Reference: DataConverterUDBF.py:59-63,232-243 (gates the file-size
    alarm and the restart-transient skip).
    """
    return (F.minute(ts) % 10 == 0) & (F.second(ts) == 0)


def size_health_flag(size: Column, ref_size: Column, tol: float = 0.10) -> Column:
    """P5 — 0 = healthy (within ±tol of reference size), 1 = unhealthy.

    Reference: DataConverterUDBF.py:39-81 (447.2 KB @100 Hz / 27.2 KB
    @1 Hz, ±10 %).
    """
    lo = ref_size * F.lit(1.0 - tol)
    hi = ref_size * F.lit(1.0 + tol)
    return F.when(size.between(lo, hi), F.lit(0)).otherwise(F.lit(1))
