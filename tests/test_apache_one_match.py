"""The one-match Apache parsers (functions/apache_log.py) against a
per-group ``regexp_extract`` reference kept here: combined lines, error
lines in the 2.2 and 2.4 shapes and a mixed ``normalize_ec2`` batch,
including the inputs where a one-match rewrite could go wrong (the
separator inside a field, a line terminator after the match, optional
groups that did not take part, garbage, empty and null lines). The plan
pins check that each full-line regex runs once, in its own projection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from unified_log_aggregation_and_analytics_spark.functions.apache_log import (
    APACHE_COMBINED_RE,
    APACHE_ERROR_RE,
    SEP,
    parse_apache_combined,
    parse_apache_error,
    parse_lambda_record_line,
)
from unified_log_aggregation_and_analytics_spark.streaming.pipeline import normalize_ec2

_ACC = '1.2.3.4 - frank [10/Oct/2000:13:55:36 -0700] "GET /a.gif HTTP/1.0" 200 2326'
_ERR22 = "[Wed Oct 13 14:32:52 2021] [error] [client 72.21.198.66] File does not exist: /x"
_ERR24 = (
    "[Wed Oct  3 14:32:52.123456 2021] [core:error] [pid 31:tid 140] "
    "[client 72.21.198.66:4753] AH00128: File does not exist"
)

COMBINED_LINES = [
    _ACC + ' "http://r/" "Mozilla/5.0 (X11)"',
    _ACC,  # no referer/UA pair
    _ACC.replace("2326", "-") + ' "-" "-"',
    _ACC + ' "-" "say "hi" to \\"me\\""',  # '"' inside the UA
    _ACC + ' "-" "ua"   ',  # trailing whitespace
    _ACC + "   ",
    _ACC + ' "-" "ua"\u2028',  # line terminator after the closing quote
    _ACC + ' "-" "ua"\r\n',
    _ACC + ' "-" "ua"\n',
    _ACC + ' "-" "u' + SEP + 'a"',  # separator inside a field
    _ACC.replace("/a.gif", "/a" + SEP + "b") + ' "-" "ua"',
    _ACC + ' "-" "ua"\u2028' + SEP,
    _ACC + ' "-" "$1 \\\\ $0"',  # replacement metacharacters in a group
    _ACC.replace(" 200 ", " 20x "),  # no match
    "this is not an apache log line",
    "",
    None,
    _ERR22,
]

ERROR_LINES = [
    _ERR22,
    _ERR24,
    "[Wed Oct 13 14:32:52 2021] [notice] Apache/2.2 configured -- resuming",
    "[Wed Oct 13 14:32:52.5 2021] [mpm_event:notice] [pid 7] AH00489: [x] ]",
    _ERR22 + "   ",  # trailing whitespace
    _ERR22 + "\u2028",
    _ERR22 + "\r\n",
    _ERR22 + SEP + "tail",
    "[Wed Oct 13 14:32:52 2021] [err" + SEP + "or] msg",
    _ERR22 + "\u2028" + SEP,
    "[not an error line",
    "[Wed Oct 13 14:32:52 2021] [ERROR] upper-case level does not match",
    "",
    None,
    _ACC,
]


def _ref_grp(line, regex):
    return lambda n: F.nullif(F.regexp_extract(line, regex, n), F.lit(""))


def _ref_combined(line):
    grp = _ref_grp(line, APACHE_COMBINED_RE)
    return {
        "client_ip": grp(1),
        "identd": grp(2),
        "user": grp(3),
        "ts": F.to_timestamp(grp(4), "dd/MMM/yyyy:HH:mm:ss Z"),
        "method": grp(5),
        "path": grp(6),
        "protocol": grp(7),
        "status": grp(8).cast("int"),
        "bytes": F.when(grp(9) == "-", F.lit(None)).otherwise(grp(9)).cast("long"),
        "referer": grp(10),
        "user_agent": grp(11),
    }


def _ref_error(line):
    grp = _ref_grp(line, APACHE_ERROR_RE)
    ts_clean = F.regexp_replace(F.regexp_replace(grp(1), r"^[A-Za-z]+ ", ""), r"\s+", " ")
    return {
        "ts": F.coalesce(
            F.try_to_timestamp(ts_clean, F.lit("MMM d HH:mm:ss.SSSSSS yyyy")),
            F.try_to_timestamp(ts_clean, F.lit("MMM d HH:mm:ss yyyy")),
        ),
        "module": grp(2),
        "level": grp(3),
        "pid": grp(4).cast("long"),
        "client_ip": F.regexp_replace(grp(5), r":\d+$", ""),
        "message": grp(6),
    }


def _ref_parse(df, bundle):
    line = F.col("value")
    return df.select(
        "id", *[v.alias(k) for k, v in bundle(line).items()], line.alias("_raw")
    )


def _ref_ec2(df):
    """normalize_ec2 as it was built from per-field regexp_extract."""
    line = F.col("value")
    is_err = line.rlike(r"^\[")
    acc, err = _ref_combined(line), _ref_error(line)
    acc_level = (
        F.when(acc["status"] >= 500, "error")
        .when(acc["status"] >= 400, "warn")
        .when(acc["status"].isNotNull(), "info")
    )
    err_level = (
        F.when(err["level"].isin("emerg", "alert", "crit", "error"), "error")
        .when(err["level"] == "warn", "warn")
        .when(err["level"].isNotNull(), "info")
    )
    acc_attrs = F.create_map(
        F.lit("client_ip"), acc["client_ip"],
        F.lit("method"), acc["method"],
        F.lit("path"), acc["path"],
        F.lit("status"), acc["status"].cast("string"),
        F.lit("bytes"), acc["bytes"].cast("string"),
        F.lit("user_agent"), acc["user_agent"],
    )
    err_attrs = F.create_map(
        F.lit("client_ip"), err["client_ip"],
        F.lit("module"), err["module"],
        F.lit("pid"), err["pid"].cast("string"),
        F.lit("err_level"), err["level"],
    )
    ts = F.when(is_err, err["ts"]).otherwise(acc["ts"])
    return df.select(
        F.lit("ec2").alias("source"),
        F.to_date(ts).alias("log_date"),
        ts.alias("ts"),
        F.when(is_err, err_level).otherwise(acc_level).alias("level"),
        F.when(is_err, err["message"]).otherwise(line).alias("message"),
        F.map_filter(
            F.when(is_err, err_attrs).otherwise(acc_attrs), lambda _, v: v.isNotNull()
        ).alias("attrs"),
        line.alias("_raw"),
    )


def _lines_df(spark, lines):
    return spark.createDataFrame(list(enumerate(lines)), "id long, value string")


def _rows(df):
    return sorted((r.asDict() for r in df.collect()), key=lambda d: repr(sorted(d.items())))


def test_combined_matches_per_group_reference(spark):
    df = _lines_df(spark, COMBINED_LINES)
    got = _rows(parse_apache_combined(df))
    assert got == _rows(_ref_parse(df, _ref_combined))
    by_id = {r["id"]: r for r in got}
    assert by_id[0]["user_agent"] == "Mozilla/5.0 (X11)"
    assert by_id[6]["user_agent"] == "ua"  # not "ua\u2028"
    assert by_id[9]["user_agent"] == "u" + SEP + "a"
    assert by_id[1]["referer"] is None and by_id[1]["status"] == 200
    assert all(v is None for k, v in by_id[16].items() if k != "id")


def test_error_matches_per_group_reference(spark):
    df = _lines_df(spark, ERROR_LINES)
    got = _rows(parse_apache_error(df))
    assert got == _rows(_ref_parse(df, _ref_error))
    by_id = {r["id"]: r for r in got}
    assert (by_id[1]["module"], by_id[1]["pid"], by_id[1]["client_ip"]) == (
        "core", 31, "72.21.198.66",
    )
    assert by_id[5]["message"] == "File does not exist: /x"  # not "...\u2028"
    assert by_id[7]["message"] == "File does not exist: /x" + SEP + "tail"
    assert by_id[0]["ts"] is not None and by_id[1]["ts"] is not None


def test_normalize_ec2_mixed_batch_matches_reference(spark):
    df = _lines_df(spark, COMBINED_LINES + ERROR_LINES)
    got = _rows(normalize_ec2(df))
    assert got == _rows(_ref_ec2(df))
    assert len(got) == len(COMBINED_LINES) + len(ERROR_LINES)


def _plan_nodes(df):
    """(node name, [expression trees]) of every optimized-plan node,
    root first; an expression tree is (class name, sql text, children)."""

    def expr(e):
        kids = e.children()
        return (
            e.getClass().getSimpleName(),
            e.sql(),
            [expr(kids.apply(i)) for i in range(kids.size())],
        )

    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop(0)
        exprs = node.expressions()
        out.append((node.nodeName(), [expr(exprs.apply(i)) for i in range(exprs.size())]))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _calls(tree, name, in_fallback=False):
    """Yield (sql, in_fallback) for every ``name`` call in ``tree``;
    in_fallback marks the THEN branch of a CASE WHEN on contains(SEP)."""
    cls, sql, kids = tree
    if cls == name:
        yield sql, in_fallback
    if cls == "CaseWhen":
        # children: cond1, value1, cond2, value2, ..., [else]
        for i, kid in enumerate(kids):
            guard = i % 2 == 1 and kids[i - 1][0] == "Contains" and SEP in kids[i - 1][1]
            yield from _calls(kid, name, in_fallback or guard)
    else:
        for kid in kids:
            yield from _calls(kid, name, in_fallback)


def _assert_one_match(df, regexes):
    nodes = _plan_nodes(df)
    for regex in regexes:
        where = [
            i
            for i, (_, trees) in enumerate(nodes)
            for t in trees
            for sql, _ in _calls(t, "RegExpReplace")
            if regex.replace("\\", "\\\\") in sql or regex in sql
        ]
        assert len(where) == 1, (regex, where)
        i = where[0]
        assert nodes[i][0] == "Project" and i > 0 and nodes[i - 1][0] == "Project"
    extracts = [
        hit for _, trees in nodes for t in trees for hit in _calls(t, "RegExpExtract")
    ]
    assert extracts and all(in_fb for _, in_fb in extracts)


def test_plan_runs_each_full_line_regex_once(spark):
    df = _lines_df(spark, [_ACC, _ERR22])
    _assert_one_match(parse_apache_combined(df), [APACHE_COMBINED_RE])
    _assert_one_match(parse_apache_error(df), [APACHE_ERROR_RE])
    _assert_one_match(normalize_ec2(df), [APACHE_COMBINED_RE, APACHE_ERROR_RE])


def test_lambda_record_message_keeps_tabs(spark):
    df = spark.createDataFrame([("2021-07-29 19:54:09\treq\tINFO\ta\tb",)], ["record"])
    r = parse_lambda_record_line(df).first()
    assert (r.request_id, r.level, r.log_message) == ("req", "INFO", "a\tb")
