"""Route: ``route_batch`` (and so ``route_keyed``, the engine's one copy
of route) renders every routed column as the sequential oracle's
``route`` does, row for row, and the routing crunch mapper routes the
emissions its non-routing twin yields."""

import dataclasses
import types

import pyarrow as pa
from hypothesis import example, given, settings as hyp_settings, strategies as st

from logmetrics_spark.config import Settings
from logmetrics_spark.operators.aggregate import _OUT_SCHEMA, _ENDINGS
from logmetrics_spark.operators.route import ROUTED_COLS, route_batch
from logmetrics_spark.oracle import route

# key text: ASCII and multi-byte UTF-8 (no surrogates: Arrow strings are UTF-8)
TEXT = st.text(st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=12)
KEY = st.fixed_dictionaries({
    "group": st.sampled_from(["rest.api", "apache", "grüppe"]),
    "key_id": TEXT,
    "metric_type": st.sampled_from(sorted(_ENDINGS)),
    "key_prefix": TEXT,
    "key_suffix": TEXT,
    "tags": st.one_of(st.just(""), TEXT),
    "ref_tag": st.one_of(st.just(""), TEXT),
})


@st.composite
def emissions(draw):
    """Emission rows of 1-6 keys (distinct (group, key_id)), interleaved;
    each row takes an ending of its key's metric type."""
    keys = draw(st.lists(KEY, min_size=1, max_size=6,
                         unique_by=lambda k: (k["group"], k["key_id"])))
    n = draw(st.integers(1, 40))
    rows = []
    for _ in range(n):
        k = keys[draw(st.integers(0, len(keys) - 1))]
        rows.append({
            **k,
            "boundary": draw(st.integers(0, 2**40)),
            "ending": draw(st.sampled_from(_ENDINGS[k["metric_type"]])),
            "ts": draw(st.integers(-(2**40), 2**40)),
            "value_num": 0.0,
            "value_str": draw(st.one_of(st.just("0"), st.from_regex(r"-?[0-9]{1,19}(\.[0-9]{1,6})?", fullmatch=True))),
            "is_dup": draw(st.booleans()),
            "is_zero": draw(st.booleans()),
        })
    return rows


_PINNED = [  # three keys, multi-byte UTF-8, empty tags and ref_tag
    {"group": "grüppe", "key_id": "clé|日本", "metric_type": "meter", "key_prefix": "pré",
     "key_suffix": "ß", "tags": "", "ref_tag": "", "boundary": 15, "ending": e, "ts": 7,
     "value_num": 0.0, "value_str": "1.5", "is_dup": False, "is_zero": False}
    for e in _ENDINGS["meter"]
] + [
    {"group": "apache", "key_id": "k", "metric_type": "counter", "key_prefix": "a",
     "key_suffix": "b", "tags": "hôst=h1", "ref_tag": "", "boundary": 15, "ending": "count",
     "ts": 9, "value_num": 0.0, "value_str": "3", "is_dup": True, "is_zero": False},
    {"group": "apache", "key_id": "k2", "metric_type": "counter", "key_prefix": "a",
     "key_suffix": "b", "tags": "", "ref_tag": "r=ü", "boundary": 30, "ending": "count",
     "ts": 30, "value_num": 0.0, "value_str": "0", "is_dup": False, "is_zero": True},
]
_PINNED = _PINNED[4:5] + _PINNED[:2] + _PINNED[5:] + _PINNED[2:4]  # keys interleaved


@hyp_settings(max_examples=150, deadline=None)
@given(emissions(), st.sampled_from(["tsd", "stdout"]), st.sampled_from([1, 2, 8]))
@example(_PINNED, "tsd", 8)
@example(_PINNED, "stdout", 2)
def test_route_batch_equals_oracle_route(rows, push_type, push_number):
    s = Settings(push_type=push_type, push_number=push_number)
    got = route_batch(pa.RecordBatch.from_pylist(rows, schema=_OUT_SCHEMA), s)
    assert got.schema.names == list(ROUTED_COLS)
    want = route(rows, types.SimpleNamespace(settings=s))
    assert got.to_pylist() == [{c: r[c] for c in ROUTED_COLS} for r in want]


def test_route_batch_empty():
    got = route_batch(pa.RecordBatch.from_pylist([], schema=_OUT_SCHEMA), Settings(push_number=2))
    assert got.num_rows == 0 and got.schema.names == list(ROUTED_COLS)


def test_routing_mapper_routes_its_emissions(rest_cfg):
    """The crunch mapper with routing settings yields, batch for batch,
    what ``route_batch`` makes of the emission mapper's batches, for
    every push law of test_crunch and both push types."""
    import numpy as np

    from test_crunch import _LAWS, _crunch_input, _datapoints

    from logmetrics_spark.operators.aggregate import make_multi_crunch_mapper

    for push_type, law in zip(["tsd", "stdout"] * 3, _LAWS):
        interval, ewma, dups, stale, stale_min, size = law
        lg = dataclasses.replace(
            rest_cfg.log_groups[0], interval=interval, ewma_interval=ewma,
            send_duplicates=dups, stale_removal=stale, stale_treshold_min=stale_min,
            histogram_size=size,
        )
        s = Settings(push_type=push_type, push_number=8)
        table = _crunch_input(lg, _datapoints(lg, np.random.default_rng(3), n_keys=12))
        em = list(make_multi_crunch_mapper({lg.name: lg})(iter(table.to_batches(50))))
        routed = list(make_multi_crunch_mapper({lg.name: lg}, s)(iter(table.to_batches(50))))
        assert len(routed) == len(em)
        for r, e in zip(routed, em):
            assert r.equals(route_batch(e, s))
