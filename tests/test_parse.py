"""Parse-stage tests: match arity, group values, guards, dates,
byte-identical text per url (SURVEY.md §5, input_hint invariant)."""

import hashlib
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logmetrics_spark.operators.parse import parse_stage
from logmetrics_spark.sources.synth import gen_page

CONFIGS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "configs")

REST_LINE = (
    "Feb  8 04:02:26 rest1.mynetwork rest_sales.api: [INFO] [performance] "
    "(http-2350-92) [c:session.addItem] [s:d9ea09bf2612060d9] [r:141915]  (34) "
    "[bnt:1/28] [sql:2/1] [membase:0/0] [memcache:4/2] [other:0/0]"
)


def _pages_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    )


def test_readme_example_line_groups(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    df = _pages_df(
        spark,
        [("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", REST_LINE, "en")],
    )
    out = parse_stage(df, lg).collect()
    assert len(out) == 1
    r = out[0]
    # the README's worked example (README.md:198-219)
    assert r["g1"] == "Feb  8 04:02:26"
    assert r["g2"] == "rest1.mynetwork"
    assert r["g4"] == "sales"
    assert r["g5"] == "session.addItem"
    assert r["g6"] == "34"
    assert (r["g7"], r["g8"]) == ("1", "28")
    assert (r["g15"], r["g16"]) == ("0", "0")
    # rfc3164 year patch -> default_year 2024
    assert r["event_ts"].year == 2024
    assert r["event_ts"].month == 2 and r["event_ts"].day == 8


def test_non_matching_line_dropped(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    df = _pages_df(
        spark,
        [("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", "no metrics here", "en")],
    )
    assert parse_stage(df, lg).count() == 0


def test_long_line_guard(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    long_line = REST_LINE + " " * 2500  # pushes over max_line_size
    df = _pages_df(
        spark,
        [("https://rest1.mynetwork/x", pd.Timestamp("2024-02-08"), b"", long_line, "en")],
    )
    assert parse_stage(df, lg).count() == 0


def test_url_match_filters_foreign_pages(spark, rest_cfg):
    lg = rest_cfg.log_groups[0]
    df = _pages_df(
        spark,
        [("https://www1.apache.example/x", pd.Timestamp("2024-02-08"), b"", REST_LINE, "en")],
    )
    assert parse_stage(df, lg).count() == 0


def test_filename_groups_appended(spark, apache_cfg):
    lg = apache_cfg.log_groups[0]
    line = (
        "10.0.0.1\t-\t-\t8/Feb/2024:04:02:26 +0000\tGET /buy/now.php HTTP/1.1\t200"
        "\t1234\thttp://r/\tUA\t4520"
    )
    df = _pages_df(
        spark,
        [("https://www3.apache.example/httpd_access/9", pd.Timestamp("2024-02-08"), b"", line, "en")],
    )
    r = parse_stage(df, lg).collect()[0]
    assert r["g2"] == "GET" and r["g3"] == "/buy/now.php" and r["g4"] == "200"
    assert r["g7"] == "www3"  # url-derived group (≈ logtail.go:131-134)
    assert r["g8"] == "httpd_access"
    assert r["event_ts"].isoformat() == "2024-02-08T04:02:26"


def test_bad_date_drops_line(spark, apache_cfg):
    lg = apache_cfg.log_groups[0]
    line = (
        "10.0.0.1\t-\t-\t99/Zzz/2024:99:99:99 +0000\tGET /a HTTP/1.1\t200"
        "\t1\thttp://r/\tUA\t5"
    )
    df = _pages_df(
        spark,
        [("https://www3.apache.example/httpd_access/9", pd.Timestamp("2024-02-08"), b"", line, "en")],
    )
    assert parse_stage(df, lg).count() == 0


def test_byte_identical_text_per_url(spark, pages, spec):
    """input_hint invariant: text extracted from the html bytes ==
    the text column == generator ground truth (md5 per url)."""
    from logmetrics_spark.operators.parse import extract_text_from_html
    from logmetrics_spark.sources.synth import gen_pages_pdf
    import numpy as np

    ext = extract_text_from_html(pages).select(
        "url", F.md5("text").alias("h_text"), F.md5("text_from_html").alias("h_html")
    )
    got = {r["url"]: (r["h_text"], r["h_html"]) for r in ext.collect()}
    truth_pdf = gen_pages_pdf(np.arange(spec.n_rows), spec)
    for u, t in zip(truth_pdf["url"], truth_pdf["text"]):
        h = hashlib.md5(t.encode()).hexdigest()
        assert got[u] == (h, h), f"text invariant broken for {u}"


MULTI_CFG = """
[log_groups.multi]
re = ['A=(\\d+)\\sB=(\\w+)', '(\\d+)\\sgoes\\s(\\w+)']
expected_matches = 2
key_prefix = "m"
default_year = 2024
[[log_groups.multi.metrics.meter]]
key_suffix = "k"
reference = [[1, ""]]
"""
MULTI_TEXT = "A=7 B=here\n12 goes there\nA=9 B=both 99 goes nowhere\nnothing"


def test_multi_regex_first_match_wins(spark):
    """Multiple patterns tried in config order; first match wins
    (logtail.go:124-140). Lines matching only the 2nd pattern still
    extract; lines matching both use the 1st pattern's groups."""
    from logmetrics_spark.config import load_config_str

    lg = load_config_str(MULTI_CFG).log_groups[0]
    df = _pages_df(
        spark, [("https://x/p", pd.Timestamp("2024-02-01"), b"", MULTI_TEXT, "en")]
    )
    rows = {r["line_no"]: (r["g1"], r["g2"]) for r in parse_stage(df, lg).collect()}
    assert rows == {
        0: ("7", "here"),     # pattern 1
        1: ("12", "there"),   # pattern 2 only
        2: ("9", "both"),     # both match -> pattern 1 wins
    }


def test_console_sink_prints_put_lines(spark, capsys=None):
    """-D do-not-send mode: routed lines stream to stdout
    (tsdpusher.go:62-63)."""
    import io as _io

    import pandas as pd

    from logmetrics_spark.config import load_config_str
    from logmetrics_spark.operators.route import console_sink
    from logmetrics_spark.plans.pipeline import run_pipeline

    cfg = load_config_str(
        """
[settings]
push_number = 2
push_type = "tsd"
[log_groups.g]
re = ['v=(\\d+)']
expected_matches = 1
key_prefix = "t"
interval = 15
[[log_groups.g.metrics.meter]]
key_suffix = "lines"
reference = [[0, ""]]
"""
    )
    pages = spark.createDataFrame(
        pd.DataFrame(
            [("u1", pd.Timestamp("2024-02-01 00:00:05"), b"", "v=7\nv=9", "en")],
            columns=["url", "warc_ts", "html", "text", "lang"],
        )
    )
    res = run_pipeline(spark, cfg, pages, io=None, write=False)
    buf = _io.StringIO()
    n = console_sink(res.routed, out=buf)
    lines = buf.getvalue().strip().split("\n")
    assert n == len(lines) and n > 0
    assert all(l.startswith("put t.lines.") for l in lines)


def test_parser_test_fails_only_lines_no_pattern_matches(tmp_path):
    """jobs/parser_test.py --show-failed prints a line as FAIL only when
    no pattern of the first-match-wins suite matches it: a line that
    only the 2nd pattern matches is a match, not a failure."""
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg = tmp_path / "multi.toml"
    cfg.write_text(MULTI_CFG)
    pages = tmp_path / "pages"
    pages.mkdir()
    pdf = pd.DataFrame(
        [("https://x/p", pd.Timestamp("2024-02-01"), b"", MULTI_TEXT, "en")],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(pages / "p0.parquet"), coerce_timestamps="us")
    out = subprocess.run(
        [sys.executable, os.path.join(root, "jobs", "parser_test.py"),
         "--config", str(cfg), "--pages", str(pages), "--show-failed", "10",
         "--cores", "1"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert "matched=3" in out.stdout, out.stdout
    fails = [ln for ln in out.stdout.splitlines() if ln.lstrip().startswith("FAIL:")]
    assert fails == ["  FAIL: nothing"], out.stdout


NAMED_CFG = """
[log_groups.named]
re = ['^(?P<a>\\w+)=(?P=a)\\s(\\d+)$', '^(?P<a>\\d+)\\s(x)$']
expected_matches = 2
key_prefix = "n"
[[log_groups.named.metrics.meter]]
key_suffix = "k"
reference = [[0, ""]]
"""
# Python's \d takes the Arabic-Indic digits of the 2nd line; Java's does not
NAMED_TEXT = "ab=ab 5\n\u0665\u0666 x\nnothing"


def test_parser_test_judges_failures_with_python_re(tmp_path):
    """jobs/parser_test.py --show-failed decides a failure with the
    engine's Python ``re``: a named-group backreference, which Java's
    regex syntax rejects, runs, and a line only Python's Unicode ``\\d``
    matches is counted as matched and not listed as FAIL."""
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cfg = tmp_path / "named.toml"
    cfg.write_text(NAMED_CFG, encoding="utf-8")
    pages = tmp_path / "pages"
    pages.mkdir()
    pdf = pd.DataFrame(
        [("https://x/p", pd.Timestamp("2024-02-01"), b"", NAMED_TEXT, "en")],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(pages / "p0.parquet"), coerce_timestamps="us")
    out = subprocess.run(
        [sys.executable, os.path.join(root, "jobs", "parser_test.py"),
         "--config", str(cfg), "--pages", str(pages), "--show-failed", "10",
         "--cores", "1"],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "matched=2" in out.stdout, out.stdout
    fails = [ln for ln in out.stdout.splitlines() if ln.lstrip().startswith("FAIL:")]
    assert fails == ["  FAIL: nothing"], out.stdout


def test_null_empty_and_long_lines_engine_equals_oracle(spark, rest_cfg):
    """Input edges (logtail.go:86): a page with null text and one with
    empty text have no lines; a matching line of max_line_size - 1
    characters is kept and one of max_line_size is dropped. The fused
    datapoints and the oracle's parse_pages agree on all four."""
    from logmetrics_spark.operators.fused import fused_datapoints
    from logmetrics_spark.oracle import parse_pages

    lg = rest_cfg.log_groups[0]
    n = lg.max_line_size

    def pad(k):
        return REST_LINE + " " * (k - len(REST_LINE))

    pdf = pd.DataFrame(
        [
            ("https://rest1.mynetwork/null", pd.Timestamp("2024-02-08"), b"", None, "en"),
            ("https://rest1.mynetwork/empty", pd.Timestamp("2024-02-08"), b"", "", "en"),
            ("https://rest1.mynetwork/kept", pd.Timestamp("2024-02-08"), b"", pad(n - 1), "en"),
            ("https://rest1.mynetwork/long", pd.Timestamp("2024-02-08"), b"", pad(n), "en"),
        ],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    cols = ["key_id", "group", "metric_type", "key_prefix", "key_suffix", "tags",
            "ref_tag", "never_stale", "ts_sec", "value", "record_id"]
    eng = sorted(tuple(r[c] for c in cols) for r in fused_datapoints(spark.createDataFrame(pdf), [(lg, None)]).collect())
    orc = sorted(tuple(d[c] for c in cols) for d in parse_pages(pdf.to_dict("records"), lg))
    assert eng == orc
    # exactly the one kept line fanned out
    assert len(eng) == lg.nb_keys()


def test_non_utf8_line_raises_and_commits_nothing(spark, rest_cfg, tmp_path):
    """Input edge: a pages parquet whose ``text`` column is BINARY holds
    one invalid UTF-8 line between decodable ones, read with
    PAGES_SCHEMA_DDL (text string). The engine neither drops the line
    nor the page: run_pipeline raises (pyarrow cannot hand the page's
    text to the fused kernel) and commits no routed table, where the
    oracle over the decodable lines alone would route rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from logmetrics_spark.oracle import run_oracle
    from logmetrics_spark.plans.pipeline import run_pipeline
    from logmetrics_spark.sources.synth import (
        PAGES_SCHEMA_DDL,
        gen_hosts_lookup_dict,
        gen_hosts_lookup_pdf,
    )
    from logmetrics_spark.sources.tableio import TableIO

    good = [REST_LINE, REST_LINE.replace("04:02:26", "04:02:47")]
    text = good[0].encode() + b"\n" + REST_LINE.encode() + b" \xff\xfe\n" + good[1].encode()
    src = tmp_path / "pages"
    src.mkdir()
    pq.write_table(
        pa.table({
            "url": ["https://rest1.mynetwork/x"],
            "warc_ts": pa.array([pd.Timestamp("2024-02-08", tz="UTC")], pa.timestamp("us", tz="UTC")),
            "html": pa.array([b""], pa.binary()),
            "text": pa.array([text], pa.binary()),
            "lang": ["en"],
        }),
        str(src / "p.parquet"),
    )
    pages = spark.read.schema(PAGES_SCHEMA_DDL).parquet(str(src))
    assert pages.count() == 1

    decodable = [{"url": "https://rest1.mynetwork/x", "warc_ts": pd.Timestamp("2024-02-08"),
                  "html": b"", "text": "\n".join(good), "lang": "en"}]
    assert run_oracle(decodable, rest_cfg, {"hosts": gen_hosts_lookup_dict()})

    out = tmp_path / "out"
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    with pytest.raises(Exception, match="ArrowException"):
        run_pipeline(spark, rest_cfg, pages, io=TableIO(root=str(out)), lookups=lk)
    assert not os.path.exists(out / "_lm_manifests" / "routed.json")
    assert not os.path.exists(out / "routed") or not any(
        f.endswith(".parquet") for _, _, fs in os.walk(out / "routed") for f in fs
    )


APACHE_LINE = (
    "10.0.0.1\t-\t-\t8/Feb/2024:04:02:26 +0000\tget /buy/now.php HTTP/1.1\t200\t512\t-\tcurl\t1234"
)


@pytest.mark.parametrize("where", ["log_regex", "transform_template"])
def test_leading_inline_flag_engine_equals_oracle(spark, where):
    """A log regex, or a transform pattern with an @@n@@ template, that
    opens with a global inline flag: Python accepts ``(?i)`` only at the
    start of a pattern, and the engine compiles each pattern as written,
    as the oracle does (a group wrapped around it once raised ``global
    flags not at the start``). The fused datapoints equal the oracle's,
    3 for the one line, whose path only the case-insensitive template
    keeps."""
    from logmetrics_spark.config import load_config_str
    from logmetrics_spark.operators.fused import fused_datapoints
    from logmetrics_spark.oracle import parse_pages
    from logmetrics_spark.sources.synth import gen_hosts_lookup_dict

    with open(os.path.join(CONFIGS, "apache.toml")) as fh:
        toml = fh.read()
    if where == "log_regex":
        # the lowercase verb matches only case-insensitively
        edited = toml.replace("'''^\\S+\\t", "'''(?i)^\\S+\\t", 1)
    else:
        edited = toml.replace("'^/(\\w+)/.*$', '/@@1@@/'", "'(?i)^/(BUY|LIST)/.*$', '/@@1@@/'", 1)
        edited = edited.replace("(GET|POST|HEAD|COOK)", "(get|GET|POST|HEAD|COOK)", 1)
    assert edited != toml
    lg = load_config_str(edited).log_groups[0]
    hosts = gen_hosts_lookup_dict()
    pdf = pd.DataFrame(
        [("https://www1.apache.example/httpd_access/x", pd.Timestamp("2024-02-08"), b"",
          APACHE_LINE, "en")],
        columns=["url", "warc_ts", "html", "text", "lang"],
    )
    cols = ["key_id", "group", "metric_type", "key_prefix", "key_suffix", "tags",
            "ref_tag", "never_stale", "ts_sec", "value", "record_id"]
    orc = sorted(tuple(d[c] for c in cols) for d in parse_pages(pdf.to_dict("records"), lg, hosts))
    assert len(orc) == 3
    assert all("path=/buy/" in t[5] for t in orc)
    eng = fused_datapoints(spark.createDataFrame(pdf), [(lg, hosts)]).collect()
    assert sorted(tuple(r[c] for c in cols) for r in eng) == orc


GROUP_CASES = {
    # a numbered backreference: "ab=cd 6" does not repeat its word
    "backref": ([r"^(\w+)=\1\s(\d+)$"], "ab=ab 5\nab=cd 6\nxy=xy 8", 2),
    "named_backref": ([r"^(?P<a>\w+)=(?P=a)\s(\d+)$"], "ab=ab 5\nab=cd 6\nxy=xy 8", 2),
    # group 1 decides the branch; "foo 3" matches neither
    "conditional": ([r"^(foo)?(?(1)bar|qux)\s(\d+)$"], "foobar 7\nqux 9\nfoo 3", 2),
    # group 1 takes no part in "y=4": it reads ""
    "optional_unset": ([r"^(x)?y=(\d+)$"], "y=4\nxy=5\nzy=6", 2),
    "leading_flag": ([r"(?i)^(GET|POST)\s(\d+)$"], "get 3\nPOST 4\nput 5", 2),
    # both constructs in one first-match-wins suite
    "suite": ([r"^(\w+)=\1\s(\d+)$", r"^(foo)?(?(1)bar|qux)\s(\d+)$"],
              "ab=ab 5\nfoobar 7\nqux 9\nab=cd 6", 3),
    # a named group in one pattern, numbered groups in the next
    "named_suite": ([r"^(?P<a>\w+)=(?P=a)\s(\d+)$", r"^(\w+):(\d+)$"],
                    "ab=ab 5\ncd:6\nab=cd 7", 2),
}


@pytest.mark.parametrize("case", sorted(GROUP_CASES))
def test_log_regex_group_constructs_engine_equals_oracle(case):
    """Log regexes whose groups refer to each other (numbered and named
    backreferences, a conditional), an optional group that takes no
    part, and a leading inline flag: the engine compiles each pattern
    as written, as the oracle does, so its group numbers stay the
    user's. The datapoints of ``make_datapoint_frame_fn`` equal
    ``oracle.parse_pages``'s, one per matching line (a renumbering of
    the groups raised ``cannot refer to an open group``)."""
    from logmetrics_spark.config import load_config_str
    from logmetrics_spark.operators.fused import make_datapoint_frame_fn
    from logmetrics_spark.oracle import parse_pages

    regexes, text, n_lines = GROUP_CASES[case]
    res = ", ".join(f"'{r}'" for r in regexes)
    lg = load_config_str(f"""
[log_groups.g]
re = [{res}]
expected_matches = 2
key_prefix = "g"
[log_groups.g.tags]
k = 1
[[log_groups.g.metrics.counter]]
key_suffix = "v"
reference = [[2, ""]]
""").log_groups[0]
    pdf = pd.DataFrame(
        [("https://x/a", pd.Timestamp("2024-02-01 00:00:05"), text),
         ("https://x/b", pd.Timestamp("2024-02-01 00:00:09"), "noise\n" + text)],
        columns=["url", "warc_ts", "text"],
    )
    cols = ["key_id", "group", "metric_type", "key_prefix", "key_suffix", "tags",
            "ref_tag", "never_stale", "ts_sec", "value", "record_id"]
    orc = sorted(tuple(d[c] for c in cols) for d in parse_pages(pdf.to_dict("records"), lg))
    assert len(orc) == 2 * n_lines
    eng = make_datapoint_frame_fn(lg)(pdf).to_arrow().to_pylist()
    assert sorted(tuple(r[c] for c in cols) for r in eng) == orc
