"""Seeded config-space fuzz: randomized knob combinations over the
fixture grammars, engine (fused) vs sequential-oracle routed-row
equality.

The config dimensions interact (transform op order x only_one latch,
compat flags x scaling, dups x stale x interval, histogram size x
reservoir law, push_number x sink hash) and the known historical
divergences lived exactly in those interactions — the guard-before-
replace ordering bug surfaced from a config shape no fixture used.
Each seed perturbs EVERY dimension at once; equality against the
independent Python oracle pins the full composition. Deterministic:
fixed seeds, no wall-clock dependence."""

import collections
import dataclasses
import random

import pytest

from logmetrics_spark.oracle import run_oracle
from logmetrics_spark.plans.pipeline import run_pipeline
from logmetrics_spark.sources.synth import gen_hosts_lookup_dict, gen_hosts_lookup_pdf


def _mutate(rng: random.Random, cfg):
    lgs = []
    for lg in cfg.log_groups:
        tdefs = []
        for td in lg.transforms:
            ops = list(td.operations)
            rng.shuffle(ops)  # exercises op-order semantics (only_one latch)
            tdefs.append(
                dataclasses.replace(
                    td,
                    operations=tuple(ops),
                    replace_only_one=rng.random() < 0.5,
                )
            )
        compat = dataclasses.replace(
            lg.compat,
            float_noscale_zero=rng.random() < 0.5,
            cumulative_ops=rng.random() < 0.5,
            transform_apply_all=rng.random() < 0.5,
        )
        mets = tuple(
            dataclasses.replace(
                m,
                multiply=rng.choice([1, 2, 10]),
                divide=rng.choice([1, 3, 7]),
                never_stale=rng.random() < 0.3,
            )
            for m in lg.metrics
        )
        lgs.append(
            dataclasses.replace(
                lg,
                transforms=tuple(tdefs),
                compat=compat,
                metrics=mets,
                interval=rng.choice([15, 60, 120]),
                ewma_interval=rng.choice([10, 30]),
                send_duplicates=rng.random() < 0.4,
                stale_removal=rng.random() < 0.5,
                stale_treshold_min=rng.choice([2, 15]),
                warn_on_operation_fail=rng.random() < 0.5,
                histogram_size=rng.choice([4, 16, 256]),
                histogram_alpha_decay=rng.choice([0.15, 0.5]),
            )
        )
    st = dataclasses.replace(
        cfg.settings,
        push_number=rng.choice([1, 2, 4, 8]),
        # lines with ("tsd") and without (any other type) the "put " prefix
        push_type=rng.choice(["tsd", "stdout"]),
    )
    return dataclasses.replace(cfg, settings=st, log_groups=tuple(lgs))


SEEDS = [11, 23, 37]


def test_seeds_cover_routing_settings(rest_cfg, apache_cfg):
    """The fuzzed seeds route lines with and without the "put " prefix,
    and to more sinks than the fixtures' push_number."""
    settings = [_mutate(random.Random(seed), cfg).settings
                for seed in SEEDS for cfg in (rest_cfg, apache_cfg)]
    assert {s.push_type == "tsd" for s in settings} == {True, False}
    assert max(s.push_number for s in settings) == 8


@pytest.mark.parametrize("seed", SEEDS)
@pytest.mark.parametrize("grammar", ["rest", "apache"])
def test_randomized_config_engine_equals_oracle(
    spark, pages, pages_pdf, rest_cfg, apache_cfg, grammar, seed
):
    base = rest_cfg if grammar == "rest" else apache_cfg
    cfg = _mutate(random.Random(seed), base)
    lk = {"hosts": spark.createDataFrame(gen_hosts_lookup_pdf())}
    res = run_pipeline(spark, cfg, pages, io=None, lookups=lk, write=False)
    eng = collections.Counter((r["line"], r["sink"]) for r in res.routed.collect())
    orc = collections.Counter(
        (r["line"], r["sink"])
        for r in run_oracle(pages_pdf.to_dict("records"), cfg, {"hosts": gen_hosts_lookup_dict()})
    )
    assert eng == orc, (
        f"fuzz divergence grammar={grammar} seed={seed}: "
        f"only_engine={list((eng - orc).items())[:3]} "
        f"only_oracle={list((orc - eng).items())[:3]}"
    )
