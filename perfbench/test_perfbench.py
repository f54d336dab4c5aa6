"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from workloads import FEATURE_COLUMNS, features_problem  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def planted():
    rng = np.random.default_rng(7)
    ld = gen.ld_table(rng)
    numts = gen.numt_table(rng)
    sample = gen.alignment_sample(rng, "s0", 400, (0, 3), ld)
    return ld, numts, sample


def test_generation_is_deterministic_per_seed():
    def make(seed):
        rng = np.random.default_rng(seed)
        ld = gen.ld_table(rng)
        s = gen.alignment_sample(rng, "s0", 300, (2, 10), ld)
        return ld.frame, s.mt, s.nt, gen.tpch_tables(rng, 0.001)

    a, b, c = make(3), make(3), make(4)
    assert a[0].equals(b[0]) and a[1].equals(b[1]) and a[2].equals(b[2])
    assert all(a[3][t].equals(b[3][t]) for t in a[3])
    assert not a[1].equals(c[1])


def test_tables_carry_the_program_schema(planted):
    from mitoscape_spark.sources.bam import ALIGNMENT_SCHEMA

    _, _, sample = planted
    want = [(f.name, f.nullable) for f in ALIGNMENT_SCHEMA.fields]
    for table in (sample.mt, sample.nt):
        assert [(f.name, f.nullable) for f in table.schema] == want
        assert str(table.schema.field("mapq").type) == "int32"
        assert str(table.schema.field("start").type) == "int64"


def test_md_tags_parse_to_the_planted_variants(planted):
    from mitoscape_spark.functions.md_parser import parse_md

    _, _, sample = planted
    md, seq, start = (sample.mt[c].to_pylist() for c in ("md", "seq", "start"))
    for i in range(len(md)):
        assert parse_md(md[i], seq[i], start[i] - 1) == sample.mt_variants[i]


def test_ld_scores_truncate_to_the_planted_integers(planted):
    ld, _, _ = planted
    frame = ld.frame
    assert len(frame) == gen.LD_ROWS
    for v1, v2, r in frame.head(2000).itertuples(index=False):
        key = (min(v1, v2), max(v1, v2))
        assert int(r * gen.LD_SCALE) == ld.scores[key] != 0


def test_truth_checker_rejects_a_corrupted_ld_value(planted):
    ld, numts, sample = planted
    expected = gen.truth_features(sample, ld, numts, np.arange(sample.n_reads))
    assert (expected["LD"] > 0).any(), "no read scored an LD pair"
    got = {read: row.to_dict() for read, row in expected.iterrows()}
    assert features_problem(got, expected) is None

    read = expected.index[expected["LD"] > 0][0]
    got[read] = dict(got[read], LD=got[read]["LD"] + 1)
    assert "LD" in features_problem(got, expected)

    del got[read]
    assert features_problem(got, expected) is not None
    assert set(FEATURE_COLUMNS) <= set(expected.columns)


def test_every_name_is_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(set(names)) == len(names)
    for name in names + list(run.END_TO_END) + list(run.PER_LAYER):
        assert NAME.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert units == {**run.END_TO_END, **run.PER_LAYER}
