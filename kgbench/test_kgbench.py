"""The benchmark's own tests: input generators, metric names and the
event-log attribution.

    python3 -m pytest kgbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs  # noqa: E402
from layers import LAYER_METRICS  # noqa: E402
from spans import Tracer, parse_event_log  # noqa: E402
from workloads import E2E_METRICS, WORKLOADS, Workload  # noqa: E402

SMALL = dict(n_concepts=300, n_turns=800)


def _frame_rows(pdf):
    return [tuple(r) for r in pdf.itertuples(index=False)]


# ------------------------------------------------------------ generators
def test_link_heavy_corpus_is_deterministic_per_seed():
    a = inputs.link_heavy_corpus(5, **SMALL)
    b = inputs.link_heavy_corpus(5, **SMALL)
    c = inputs.link_heavy_corpus(6, **SMALL)
    assert a.concept_rows == b.concept_rows
    assert a.lexicon == b.lexicon and a.truth == b.truth
    assert _frame_rows(a.base_rows) == _frame_rows(b.base_rows)
    assert a.concept_rows != c.concept_rows
    assert _frame_rows(a.base_rows) != _frame_rows(c.base_rows)


def test_link_heavy_truth_by_construction():
    c = inputs.link_heavy_corpus(5, **SMALL)
    names = {row[0]: row[1] for row in c.concept_rows}
    token_sets = [frozenset(n.split()) for n in names.values()]
    assert len(set(token_sets)) == len(token_sets)  # unique token sets
    assert len(c.lexicon) > len(c.concept_rows)
    for form, target in c.truth.items():
        if target is None:  # a typo: no concept holds its token set
            assert frozenset(form.split()) not in token_sets
        else:  # exact name or reorder: same tokens as its concept
            assert frozenset(form.split()) == frozenset(names[target].split())


def test_fold_deltas_are_deterministic_and_novel_forms_unseen():
    for corpus in (
        inputs.link_heavy_corpus(7, **SMALL),
        inputs.fixture_corpus(7, n_conversations=50),
    ):
        known = inputs.delta_rows(corpus, 0)
        novel = inputs.delta_rows(corpus, 1, 0)
        assert _frame_rows(known) == _frame_rows(inputs.delta_rows(corpus, 0))
        assert _frame_rows(novel) == _frame_rows(inputs.delta_rows(corpus, 1, 0))
        forms = inputs.novel_forms(corpus, 0)
        assert len(forms) == inputs.NOVEL_PER_FOLD
        assert set(forms) <= set(corpus.reserved)
        assert set(forms).isdisjoint(inputs.novel_forms(corpus, 1))
        known_text = " ".join(known["text"]).lower()
        assert not any(f.lower() in known_text for f in corpus.reserved)
        # a known delta holds exactly DELTA_TURNS turns, whatever the seed
        assert len(known) == inputs.DELTA_TURNS
        assert len(novel) == inputs.DELTA_TURNS + 2 * inputs.NOVEL_PER_FOLD
        novel_text = " ".join(novel["text"]).lower()
        assert all(f.lower() in novel_text for f in forms)
        # conversation ids of different folds never collide
        assert set(known["conv_id"]).isdisjoint(novel["conv_id"])
    lh = inputs.link_heavy_corpus(7, **SMALL)
    assert len(lh.base_rows) == SMALL["n_turns"]
    base_text = " ".join(lh.base_rows["text"])
    # the forms recorded as mentioned are exactly those the kept turns hold
    assert all(f in base_text for f in lh.known_forms)
    assert set(lh.known_forms) == {
        f for f in lh.truth if f in base_text and f not in lh.reserved
    }
    assert not any(f in base_text for f in lh.reserved)


def test_operator_tables_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    import opsuite

    def tables(seed):
        root = opsuite.write_tables(str(tmp_path / str(seed)), seed)
        return [
            pq.read_table(os.path.join(root, f"{t}.parquet")).to_pylist()
            for t in opsuite.TABLES
        ]

    assert tables(3) == tables(3)
    assert tables(3) != tables(4)
    docs = tables(3)[0]
    # some documents repeat an earlier one, so the dedup query finds pairs
    assert any(d["text"].endswith(" dup") for d in docs)


# ------------------------------------------------------------ names
def test_emitted_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS
    assert spec["paths"] == ["kgbench"]


# ------------------------------------------------------------ warm-up
class _Counting(Workload):
    """A workload whose operations only record that they ran."""

    def __init__(self, seed, warmup=True):
        self.calls = []
        super().__init__(None, seed, seconds=0, warmup=warmup)

    def make_corpus(self, seed):
        return None

    def warm_op(self):
        self.calls.append("warm")
        if self.seed < 0:
            raise RuntimeError("warm-up failed")
        return {}

    def op(self):
        self.calls.append("op")
        return {"wall_s": 1.0, "turns": 1}


def test_warm_up_is_untimed_and_a_failed_one_is_counted():
    w = _Counting(1)
    assert w.warm_up()
    w.timed_loop()
    assert w.calls == ["warm", "op"] and w.ops == [{"wall_s": 1.0, "turns": 1}]
    w = _Counting(1, warmup=False)
    assert w.warm_up()
    w.timed_loop()
    assert w.calls == ["op"]
    w = _Counting(-1)
    assert not w.warm_up()
    assert w.failed == 1 and len(w.ops) == 1 and "error" in w.ops[0]


# ------------------------------------------------------------ event log
def test_event_log_attributes_jobs_to_their_span(tmp_path):
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("kgbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(tmp_path))
        .config("spark.eventLog.compress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        tracer = Tracer(spark.sparkContext)
        with tracer.span("one"):
            spark.range(1000, numPartitions=3).collect()
        spark.range(10).collect()  # outside any span
        with tracer.span("two"):
            df = spark.range(5000, numPartitions=4)
            df.groupBy((df.id % 7).alias("k")).count().collect()
            spark.range(100, numPartitions=2).collect()
        want = {n: set(tracer.job_ids(n)) for n in ("one", "two")}
    finally:
        spark.stop()
    groups = parse_event_log(str(tmp_path))
    assert groups["one"].jobs == want["one"] and len(want["one"]) >= 1
    assert groups["two"].jobs == want["two"] and len(want["two"]) >= 2
    assert groups["one"].jobs.isdisjoint(groups["two"].jobs)
    assert groups[""].jobs  # the unspanned collect
    assert groups["one"].tasks >= 3
    assert groups["two"].shuffle_write_bytes > 0
    assert groups["one"].shuffle_write_bytes == 0
    assert tracer.spans["one"].wall_s > 0


# ------------------------------------------------------------ fold oracle
def test_oracle_adapter_matches_the_package_oracle():
    from omop_concept_automapper_spark.fixtures.transcripts import (
        generate_transcript_rows,
    )
    from omop_concept_automapper_spark.fixtures.vocabulary import build_lexicon
    from omop_concept_automapper_spark.plans import oracle
    from workloads import oracle_over

    rows = generate_transcript_rows(40, 7)
    got = oracle_over(rows, build_lexicon(inputs.FIXTURE_VOCAB_SEED))
    assert got == oracle.oracle_link(seed=7, n_conversations=40)
    # the swap is undone after the call
    assert oracle.generate_transcript_rows is generate_transcript_rows


def test_oracle_links_novel_fold_forms():
    from omop_concept_automapper_spark.fixtures.transcripts import (
        generate_transcript_rows,
    )
    from workloads import oracle_over

    corpus = inputs.fixture_corpus(3, n_conversations=30)
    rows = generate_transcript_rows(30, 3)
    for pdf in (inputs.delta_rows(corpus, 0), inputs.delta_rows(corpus, 1, 0)):
        rows += list(pdf.itertuples(index=False, name=None))
    edges = {e["mention_text"]: e for e in oracle_over(rows, corpus.lexicon)["edges"]}
    for form in inputs.novel_forms(corpus, 0):
        assert edges[form]["confidence"] == 10 and edges[form]["pred"] == "maps-to"
