"""Transform DSL tests: the reference example config's operations
(logmetrics_collector_transform.conf:40-47) row by row, through the
engine's one transform implementation (the fused kernel's)."""

import pandas as pd

from logmetrics_spark.config import TransformDef, TransformOp
from logmetrics_spark.operators.fused import _apply_transform_series

APACHE_CHAIN = TransformDef(
    position=3,
    replace_only_one=True,
    operations=(
        TransformOp("replace", r"^.*/bid", "/bid/"),
        TransformOp("replace", r"^/(\w+)/.*$", "/@@1@@/"),
        TransformOp("replace", r"^/search\.php", "/search/"),
        TransformOp("replace", r"^/[^/]*$", "/"),
        TransformOp(
            "match_or_default",
            r"^/(|(|bid|buy|search|list|category|sitemap|info)/)$",
            "other",
        ),
    ),
)


def _apply(tdef, values, compat=False):
    return list(_apply_transform_series(tdef, pd.Series(values), compat))


def test_apache_path_cleanup_examples():
    cases = {
        # comments from the reference config
        "/erronous/path/bid?params": "/bid/",  # ^.*/bid -> /bid/
        "/buy/now.php": "/buy/",  # /@@1@@/ backref
        "/search.php?q=x": "/search/",
        "/favicon.ico": "/",
        "/unknown/zone/deep": "other",  # whitelist default
        "/bid/item1": "/bid/",
        "/category/books/x": "/category/",
    }
    got = _apply(APACHE_CHAIN, list(cases))
    assert got == list(cases.values())


def test_dash_to_zero():
    tdef = TransformDef(position=4, operations=(TransformOp("replace", "^-$", "0"),))
    assert _apply(tdef, ["-", "123", "a-b"]) == ["0", "123", "a-b"]


def test_match_or_default_keeps_matching():
    tdef = TransformDef(
        position=1,
        operations=(TransformOp("match_or_default", r"^(GET|POST)$", "other"),),
    )
    assert _apply(tdef, ["GET", "POST", "COOK"]) == ["GET", "POST", "other"]


def test_replace_only_one_stops_after_first_hit():
    tdef = TransformDef(
        position=1,
        replace_only_one=True,
        operations=(
            TransformOp("replace", "^a", "X"),
            TransformOp("replace", "^X$", "Y"),  # must NOT run after first hit
        ),
    )
    assert _apply(tdef, ["abc"]) == ["X"]


def test_compat_transform_apply_all_replays_reference():
    tdef = TransformDef(
        position=1,
        replace_only_one=True,  # reference code ignores the flag (transform.go:48-60)
        operations=(
            TransformOp("replace", "^a", "X"),
            TransformOp("replace", "^X$", "Y"),
        ),
    )
    assert _apply(tdef, ["abc"], compat=True) == ["Y"]


def test_template_multi_backref():
    tdef = TransformDef(
        position=1,
        operations=(TransformOp("replace", r"^(\w+)-(\w+)$", "@@2@@_@@1@@"),),
    )
    assert _apply(tdef, ["foo-bar", "nomatch"]) == ["bar_foo", "nomatch"]


def test_guard_before_replace_interleaves_in_config_order():
    """ADVICE fix: ops apply in config order against the RUNNING
    value — a match_or_default placed before a replace feeds its
    modified value into that replace (oracle semantics)."""
    tdef = TransformDef(
        position=1,
        replace_only_one=True,
        operations=(
            TransformOp("match_or_default", r"^/api/", "/other/"),
            TransformOp("replace", r"^/other/", "fallback"),
        ),
    )
    # '/web/y' fails the guard -> '/other/' -> replace fires -> 'fallback'
    # '/api/x' passes the guard -> unchanged -> replace misses
    assert _apply(tdef, ["/web/y", "/api/x"]) == ["fallback", "/api/x"]


def test_guard_before_replace_fused_kernel_matches():
    """Same chain through the fused pandas path, called directly."""
    tdef = TransformDef(
        position=1,
        replace_only_one=True,
        operations=(
            TransformOp("match_or_default", r"^/api/", "/other/"),
            TransformOp("replace", r"^/other/", "fallback"),
        ),
    )
    got = _apply_transform_series(tdef, pd.Series(["/web/y", "/api/x"]), False)
    assert list(got) == ["fallback", "/api/x"]


def test_guard_before_replace_matches_oracle():
    from logmetrics_spark.oracle import _apply_transform

    tdef = TransformDef(
        position=1,
        replace_only_one=True,
        operations=(
            TransformOp("match_or_default", r"^/api/", "/other/"),
            TransformOp("replace", r"^/other/", "fallback"),
        ),
    )
    assert _apply_transform(tdef, "/web/y", False) == "fallback"
    assert _apply_transform(tdef, "/api/x", False) == "/api/x"


# pattern constructs a hand-made rewrite of the pattern could get wrong:
# plain and named groups, backreferences, the conditional group, ']' as
# a class's first member, escaped parentheses and a leading inline flag
PATTERN_CASES = [
    "(foo)bar",
    "(foo)?(?(1)bar|qux)",
    r"(a)\1",
    "(?P<lvl>ERROR|WARN)",
    "(?P<a>x)(?P=a)",
    "[](]",
    "[^](]",
    "[(]x(y)",
    r"[\d](a)",
    r"[\]](a)",
    "[^^](a)",
    r"\(x\)(y)",
    "(?:already)(z)",
    "(?i)(error)",
]
PROBES = ["foobar", "barqux", "aa", "ERROR", "xx", "](", "?", ":", "(xy", "(x)y",
          "alreadyz", "1a", "]a", "^a", "ba", "Error", ""]


def test_pattern_constructs_engine_equals_oracle():
    """Each construct as a ``replace`` (its groups in the template, when
    it has any) and as a ``match_or_default``: the engine's chain equals
    the oracle's on every probe, and every pattern both matches and
    misses some probe."""
    import re

    from logmetrics_spark.oracle import _apply_transform

    for pat in PATTERN_CASES:
        hits = [bool(re.search(pat, v)) for v in PROBES]
        assert any(hits) and not all(hits), pat
        tmpl = "<@@0@@|@@1@@>" if re.compile(pat).groups else "X"
        for op in (TransformOp("replace", pat, tmpl), TransformOp("match_or_default", pat, "other")):
            tdef = TransformDef(position=1, operations=(op,))
            want = [_apply_transform(tdef, v, False) for v in PROBES]
            assert _apply(tdef, PROBES) == want, op


# ---------------------------------------------------------------- property


def test_transform_fused_agrees_with_oracle_randomized():
    """Property: for random op chains (replace/match_or_default in any
    order, only_one on/off) and random values, the fused pandas kernel
    and the sequential oracle produce identical outputs. This is the
    contract the ADVICE round-2 fix restored — exercised at the path
    level so op-order regressions can't hide behind fixture configs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logmetrics_spark.oracle import _apply_transform

    # small alphabets keep collision (match) rates high
    pat = st.sampled_from(
        [r"^a", r"b$", r"ab", r"^(\w+)/", r"^-$", r"^x(\d+)", r"c.d", r"^/(\w+)/"]
    )
    arg_repl = st.sampled_from(["X", "@@1@@_t", "/@@1@@/", "", "0"])
    arg_dflt = st.sampled_from(["other", "", "dflt"])
    op = st.one_of(
        st.tuples(st.just("replace"), pat, arg_repl),
        st.tuples(st.just("match_or_default"), pat, arg_dflt),
    )
    value = st.text(alphabet="ab/x1-cd", min_size=0, max_size=8)

    @settings(max_examples=40, deadline=None)
    @given(
        ops=st.lists(op, min_size=1, max_size=4),
        values=st.lists(value, min_size=1, max_size=6),
        only_one=st.booleans(),
        compat=st.booleans(),
    )
    def check(ops, values, only_one, compat):
        # templates referencing group 1 require a pattern with a group
        ops = [
            TransformOp(k, p, a if "(" in p or "@@1@@" not in a else "X")
            for k, p, a in ops
        ]
        tdef = TransformDef(position=1, replace_only_one=only_one, operations=tuple(ops))
        want = [_apply_transform(tdef, v, compat) for v in values]
        got_fused = _apply(tdef, values, compat)
        assert got_fused == want, f"fused != oracle for ops={ops} values={values}"

    check()
