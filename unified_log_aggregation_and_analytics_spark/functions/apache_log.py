"""Log-line field extraction (operators T9/T10).

T9: Apache combined-format and error-log parsing. The reference ships
raw access-log lines (sample at reference README.md:47) and explicitly
calls out extracting "the timestamp, HTTP, and browser information ...
as separate attributes" as the intended enrichment (README.md:58).

Each line is matched ONCE: ``match_groups`` rewrites the line with
``regexp_replace(line, RE, SEP $1 SEP ... $n SEP)`` and splits the
result on ``SEP`` (U+0001), so item ``i`` of the array is group ``i``.
Callers stage that array as its own projection and read every field
from it; ``CollapseProject`` keeps the stage because the array is not
cheap and is read more than once, so the regex runs once per line
instead of once per field. The array matches per-group
``regexp_extract`` for every input:

- a line that does not match comes back from ``regexp_replace``
  unchanged, so its array has one item and every group reads as null
  (``regexp_extract`` gives ``""``, which ``nullif`` turns into null);
- the trailing ``SEP`` keeps whatever follows the match (``$`` may stop
  before a final line terminator such as U+2028) out of the last group;
- a line that already contains ``SEP`` takes the per-group
  ``regexp_extract`` branch instead;
- a null line gives a null array, hence all-null fields.

Every typed field parses with ``try_cast`` / ``try_to_timestamp``:
under ANSI mode (Spark 4's default) a malformed value — an impossible
date, a ``12k`` bytes field — reads as null instead of failing the
job, and a null ``ts`` sends the line to the DLQ.

All of it is JVM-side, inside whole-stage codegen; no Python in the
hot path.

T10: Lambda function-log record lines are tab-separated
``ts\\trequestId\\tLEVEL\\tmessage`` (reference README.md:119,136,
produced by lib/computes/lambda/handler/index.js console.log).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Apache combined log format. Groups:
# 1 client_ip, 2 identd, 3 user, 4 timestamp, 5 method, 6 path,
# 7 protocol, 8 status, 9 bytes ('-' for none), 10 referer, 11 user_agent
APACHE_COMBINED_RE = (
    r'^(\S+) (\S+) (\S+) \[([^\]]+)\] "(\S+) (\S+) ?([^"]*)" '
    r'(\d{3}) (\S+)(?: "([^"]*)" "(.*)")?\s*$'
)

_APACHE_TS_FMT = "dd/MMM/yyyy:HH:mm:ss Z"

# Group separator of the one-match rewrite; never part of a log line
# that takes the one-match path (see match_groups).
SEP = "\u0001"

# Name of the staged groups column in parse_apache_combined/_error.
_GROUPS = "_apache_groups"


def match_groups(line: Column, regex: str, n: int) -> Column:
    """``array<string>`` whose item ``i`` (1..n) is group ``i`` of ONE
    match of ``regex`` against ``line``; an unmatched group is ``""``
    and a non-matching line has one item (see the module docstring).
    Stage it as its own column: every reference to this expression
    runs the regex again."""
    rewrite = SEP + SEP.join(f"${i}" for i in range(1, n + 1)) + SEP
    one_match = F.split(F.regexp_replace(line, regex, rewrite), SEP, -1)
    per_group = F.array(F.lit(""), *[F.regexp_extract(line, regex, i) for i in range(1, n + 1)])
    return F.when(line.contains(SEP), per_group).otherwise(one_match)


def _reader(groups: Column):
    """Group ``n`` of a ``match_groups`` array, ``""`` read as null."""
    return lambda n: F.nullif(F.get(groups, n), F.lit(""))


def combined_groups(line: Column) -> Column:
    """The staged one-match groups of APACHE_COMBINED_RE."""
    return match_groups(line, APACHE_COMBINED_RE, 11)


def combined_fields(line: Column, groups: Column | None = None) -> dict[str, Column]:
    """The combined-format extraction as a named-column bundle, so
    callers that route multiple formats in ONE pass (normalize_ec2)
    can embed the expressions in a CASE without re-scanning. Pass the
    staged ``combined_groups(line)`` column as ``groups``; without it
    the match is inlined into every field and runs once per field."""
    grp = _reader(combined_groups(line) if groups is None else groups)
    return {
        "client_ip": grp(1),
        "identd": grp(2),
        "user": grp(3),
        "ts": F.try_to_timestamp(grp(4), F.lit(_APACHE_TS_FMT)),
        "method": grp(5),
        "path": grp(6),
        "protocol": grp(7),
        "status": grp(8).try_cast("int"),
        # '-' means no bytes; a non-numeric value ('12k') is null too
        "bytes": F.when(grp(9) == "-", F.lit(None)).otherwise(grp(9)).try_cast("long"),
        "referer": grp(10),
        "user_agent": grp(11),
    }


def _parse(df: DataFrame, line_col: str, groups_of, fields_of) -> DataFrame:
    """Stage ``groups_of(line)`` as its own projection, then project
    the fields read from it, the passthrough columns and ``_raw``."""
    line = F.col(line_col)
    staged = df.withColumn(_GROUPS, groups_of(line))
    fields = fields_of(line, F.col(_GROUPS))
    passthrough = [c for c in df.columns if c != line_col]
    return staged.select(
        *passthrough,
        *[v.alias(k) for k, v in fields.items()],
        line.alias("_raw"),
    )


def parse_apache_combined(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse Apache combined-format lines into typed columns (T9).

    Lines that do not match yield all-null extracted fields but keep
    ``_raw`` — callers route null-ts rows to the dead-letter sink (K3)
    rather than poisoning the batch (a documented improvement over the
    reference transformer, which would throw).
    """
    return _parse(df, line_col, combined_groups, combined_fields)


# Apache error-log line. Covers both the 2.2 shape
#   [Wed Oct 13 14:32:52 2021] [error] [client 72.21.198.66] msg
# and the 2.4 shape
#   [Wed Oct 13 14:32:52.123456 2021] [core:error] [pid 31] [client 72.21.198.66:4753] msg
# (the reference tails error_log* into the same delivery stream as
# access_log*, lib/computes/ec2/ec2-startup.sh:46-49). Groups:
# 1 timestamp, 2 module (2.4 only), 3 level, 4 pid (2.4 only),
# 5 client, 6 message
APACHE_ERROR_RE = (
    r"^\[([^\]]+)\] \[(?:([a-z_]+):)?([a-z]+[0-9]?)\]"
    r"(?: \[pid (\d+)(?::tid \d+)?\])?"
    r"(?: \[client ([^\]]+)\])? (.*)$"
)


def error_groups(line: Column) -> Column:
    """The staged one-match groups of APACHE_ERROR_RE."""
    return match_groups(line, APACHE_ERROR_RE, 6)


def error_fields(line: Column, groups: Column | None = None) -> dict[str, Column]:
    """The error-log extraction as a named-column bundle (see
    combined_fields for why, and for ``groups``)."""
    grp = _reader(error_groups(line) if groups is None else groups)
    ts_clean = F.regexp_replace(  # drop "Wed ", collapse "Oct  1" day pad
        F.regexp_replace(grp(1), r"^[A-Za-z]+ ", ""), r"\s+", " "
    )
    ts = F.coalesce(
        F.try_to_timestamp(ts_clean, F.lit("MMM d HH:mm:ss.SSSSSS yyyy")),
        F.try_to_timestamp(ts_clean, F.lit("MMM d HH:mm:ss yyyy")),
    )
    return {
        "ts": ts,
        "module": grp(2),
        "level": grp(3),
        "pid": grp(4).try_cast("long"),
        # 2.4 appends :port to the client; strip it, keep the ip
        "client_ip": F.regexp_replace(grp(5), r":\d+$", ""),
        "message": grp(6),
    }


def parse_apache_error(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse Apache error-log lines into typed columns.

    The error-log timestamp (``Wed Oct 13 14:32:52[.ffffff] 2021``) has
    no zone (httpd logs server-local time; the reference's EC2 AMI runs
    UTC) and a space-padded day-of-month; the day-of-week token is
    dropped before parsing because Java's formatter cannot parse 'EEE'.
    Non-matching lines keep ``_raw`` with null fields — same DLQ
    routing contract as parse_apache_combined.
    """
    return _parse(df, line_col, error_groups, error_fields)


def parse_lambda_record_line(df: DataFrame, record_col: str = "record") -> DataFrame:
    """Split a tab-separated Lambda function-log line (T10) into
    ``log_ts, request_id, level, log_message`` columns. The split
    stops at the third tab, so a message that holds a tab keeps it."""
    parts = F.split(F.col(record_col), "\t", 4)
    return df.withColumns(
        {
            "log_ts": F.try_to_timestamp(parts.getItem(0)),
            "request_id": parts.getItem(1),
            "level": parts.getItem(2),
            "log_message": F.trim(parts.getItem(3)),
        }
    )
