"""Config layer unit tests (SURVEY.md §2.2 compile steps)."""

import pytest

from logmetrics_spark.config import ConfigError, load_config_str
from logmetrics_spark.regexc import (
    clean_verbose_regex,
    go_layout_to_strptime,
    layout_has_year,
)

MINIMAL = """
[log_groups.g]
re = ['(\\d+) (\\w+)']
expected_matches = 2
key_prefix = "p"
[[log_groups.g.metrics.meter]]
key_suffix = "k"
reference = [[0, ""]]
"""


def test_clean_verbose_regex_strips_comments_and_spaces():
    raw = r"""([0-9]+)\s+   # a number \n
              (\S+)         # a word \n"""
    assert clean_verbose_regex(raw) == r"([0-9]+)\s+(\S+)"


def test_clean_verbose_regex_preserves_escapes():
    assert clean_verbose_regex(r"\#x\ y") == r"\#x\ y"


def test_go_layouts():
    assert go_layout_to_strptime("Jan  2 15:04:05") == "%b  %d %H:%M:%S"
    assert go_layout_to_strptime("2/Jan/2006:15:04:05 -0700") == "%d/%b/%Y:%H:%M:%S %z"
    assert not layout_has_year("Jan  2 15:04:05")
    assert layout_has_year("2/Jan/2006:15:04:05 -0700")


def test_minimal_config_defaults():
    cfg = load_config_str(MINIMAL)
    lg = cfg.log_groups[0]
    # reference defaults (config.go:473-491)
    assert lg.histogram_size == 256
    assert lg.histogram_alpha_decay == 0.15
    assert lg.histogram_rescale_threshold_min == 60
    assert lg.ewma_interval == 30
    assert lg.interval == 15
    assert lg.stale_treshold_min == 60
    assert lg.max_line_size == 2048
    assert cfg.settings.push_type == "tsd"
    assert lg.nb_keys() == 1


def test_arity_mismatch_fails_fast():
    with pytest.raises(ConfigError, match="expected_matches"):
        load_config_str(MINIMAL.replace("expected_matches = 2", "expected_matches = 3"))


def test_zero_divide_fails_fast():
    bad = MINIMAL.replace('key_suffix = "k"', 'key_suffix = "k"\ndivide = 0')
    with pytest.raises(ConfigError, match="multiply/divide"):
        load_config_str(bad)


def test_bad_operation_fails_fast():
    bad = MINIMAL.replace('[[0, ""]]', '[[1, "", { mul = [2] }]]')
    with pytest.raises(ConfigError, match="unsupported operation"):
        load_config_str(bad)


def test_no_metrics_fails_fast():
    txt = "\n".join(MINIMAL.splitlines()[:5])
    with pytest.raises(ConfigError, match="no metrics"):
        load_config_str(txt)


def test_group_count_consistency_across_alternatives():
    two = MINIMAL.replace("re = ['(\\d+) (\\w+)']", "re = ['(\\d+) (\\w+)', '(\\d+)']")
    with pytest.raises(ConfigError, match="differing group counts"):
        load_config_str(two)


def test_tag_order_is_alphabetical():
    txt = MINIMAL + "\n[log_groups.g.tags]\nzeta = 1\nalpha = 2\n"
    cfg = load_config_str(txt)
    assert cfg.log_groups[0].tag_order() == ["alpha", "zeta"]


def test_syslog_facility_map():
    """syslog_helper.go:1-26 parity: all 20 facility names map to
    LOG_INFO|facility with RFC 5424 codes; unknown names raise
    (config.go:288); default local0 (config.go:310-312)."""
    from logmetrics_spark.syslog_facility import (
        FACILITY_CODES,
        get_syslog_priority,
    )

    assert len(FACILITY_CODES) == 20
    assert get_syslog_priority("kern") == 6  # 0<<3 | LOG_INFO
    assert get_syslog_priority("user") == (1 << 3) | 6
    assert get_syslog_priority("local0") == (16 << 3) | 6
    assert get_syslog_priority("local7") == (23 << 3) | 6
    assert get_syslog_priority(None) == get_syslog_priority("local0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="log_facility"):
        get_syslog_priority("nope")


def test_log_facility_in_settings():
    from logmetrics_spark.config import load_config_str

    cfg = load_config_str(
        """
[settings]
log_facility = "daemon"
[log_groups.g]
re = ['(x)']
expected_matches = 1
key_prefix = "t"
interval = 15
[[log_groups.g.metrics.meter]]
key_suffix = "lines"
reference = [[0, ""]]
"""
    )
    assert cfg.settings.log_facility == "daemon"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="log_facility"):
        load_config_str(
            """
[settings]
log_facility = "bogus"
[log_groups.g]
re = ['(x)']
expected_matches = 1
key_prefix = "t"
interval = 15
[[log_groups.g.metrics.meter]]
key_suffix = "lines"
reference = [[0, ""]]
"""
        )
