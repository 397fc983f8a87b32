"""The benchmark's workloads: one closed-loop client on ``local[4]``.

Each workload sets up (session + cold vocabulary stage + vocab index),
issues one untimed warm-up operation that runs the timed operation's
plans once, then issues the timed operation back to back until
``seconds`` have passed, then checks the outputs once outside the timed
region.

* ``link_heavy``: the timed operation is a from-scratch ``Pipeline.run``
  into a fresh warehouse over the generated link-heavy corpus.
* ``fold_stream``: an untimed base build over the fixture corpus, then
  the timed operation is a fold pair: one ``run_incremental`` with a
  known-only delta followed by one with a novel delta.

The traced run lives in ``layers.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs
from spans import RssSampler, Tracer

CORES = 4
STAGES = ("vocab_embeddings", "mentions", "links", "graph")
E2E_METRICS = {"setup_s": "s", "turns_per_s": "1/s"}
CATALOG_JOB_PREFIXES = ("table-write", "lineage")


@dataclass
class Result:
    correct: bool = True
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    summary: list = field(default_factory=list)

    def record(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()
            },
        }


class Bench:
    """Owns the work directory and the Spark session of one run."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root = root
        self.work = os.path.join(
            root, ".kgbench_work", f"{workload}-{seed}-{os.getpid()}"
        )
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        self._n_dirs = 0
        self.spark = None
        self.event_dir: str | None = None

    def fresh_dir(self, kind: str) -> str:
        self._n_dirs += 1
        return os.path.join(self.work, f"{kind}-{self._n_dirs:03d}")

    def start_session(self, traced: bool = False) -> float:
        """(Re)start the session; returns the ``get_spark`` wall time.  The
        first call launches the JVM, later calls reuse it."""
        from omop_concept_automapper_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.eventLog.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            self.event_dir = self.fresh_dir("events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark("kgbench", cores=CORES, extra_conf=conf)
        wall = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return wall

    def close(self) -> None:
        """Stop the session, shut the JVM down and wait for it to exit,
        then remove this run's work directory (and its parent when no
        other run uses it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # another run still works there

    # --------------------------------------------------------- inputs
    def vocab_frames(self, corpus: inputs.Corpus):
        from omop_concept_automapper_spark.fixtures.vocabulary import (
            ANCESTOR_SCHEMA,
            CONCEPT_SCHEMA,
            RELATIONSHIP_SCHEMA,
        )

        s = self.spark
        return (
            s.createDataFrame(corpus.concept_rows, CONCEPT_SCHEMA),
            s.createDataFrame(corpus.relationship_rows, RELATIONSHIP_SCHEMA),
            s.createDataFrame(corpus.ancestor_rows, ANCESTOR_SCHEMA),
        )

    def base_transcripts(self, corpus: inputs.Corpus):
        """The corpus's base transcripts, materialized (not timed)."""
        from omop_concept_automapper_spark.fixtures.transcripts import (
            transcripts_dataframe_distributed,
        )

        if corpus.base_rows is not None:
            return self.transcripts_frame(corpus.base_rows)
        return transcripts_dataframe_distributed(
            self.spark, corpus.n_base_conversations, seed=corpus.seed
        ).localCheckpoint(eager=True)

    def transcripts_frame(self, pdf):
        """A materialized DataFrame over generated transcript rows."""
        from omop_concept_automapper_spark.fixtures.transcripts import (
            TRANSCRIPTS_SCHEMA,
        )

        return self.spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA).localCheckpoint(
            eager=True
        )

    # ---------------------------------------------------- public calls
    def pipeline(self, wh_dir: str):
        from omop_concept_automapper_spark.catalog import Warehouse
        from omop_concept_automapper_spark.plans.runner import (
            Pipeline,
            PipelineConfig,
        )

        return Pipeline(self.spark, Warehouse(self.spark, wh_dir), PipelineConfig())

    def setup(self, corpus, traced: bool = False) -> dict:
        """``setup_s``: the session start, then the cold vocabulary stage
        and vocab index build into a fresh warehouse (kept in
        ``setup_warehouse``).  Input DataFrames are created untimed."""
        session_s = self.start_session(traced)
        tracer = Tracer(self.spark.sparkContext) if traced else None
        self.frames = self.vocab_frames(corpus)
        p = self.pipeline(self.fresh_dir("setup"))
        self.setup_warehouse = p.wh.root
        t0 = time.perf_counter()
        with _maybe_span(tracer, "setup.vocab"):
            vocab = p.stage_vocab_embeddings(*self.frames)
        t1 = time.perf_counter()
        with _maybe_span(tracer, "setup.index"):
            build_index(p, vocab, os.path.join(p.wh.root, "vocab_index"))
        t2 = time.perf_counter()
        return {
            "setup_s": session_s + (t2 - t0),
            "session_s": session_s,
            "vocab_s": t1 - t0,
            "index_s": t2 - t1,
            "tracer": tracer,
        }


def build_index(p, vocab, path: str) -> None:
    """The vocab-index build ``stage_links`` performs, with the same
    content key, so a later ``stage_links`` over this warehouse reuses it."""
    from omop_concept_automapper_spark.operators.knn import build_vocab_index_files

    fp = json.loads(p.link_config_fingerprint(vocab))
    build_vocab_index_files(
        vocab.select("concept_id", "concept_name", "domain_id", "atc7_codes", "vector"),
        path,
        n_shards=int(p.cfg.extra.get("n_index_shards", 4)),
        content_key=f"{fp['vocab_n']}:{fp['vocab_h']}:e{fp['embedder_v']}",
    )


def _maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


# ============================================================ workloads
class Workload:
    """Common flow: set-up, warm-up, timed loop, check, report."""

    name = ""
    summary_keys: tuple = ()  # (per-operation figure, unit) for the summary

    def __init__(self, bench: Bench, seed: int, seconds: int, warmup: bool = True):
        self.bench = bench
        self.seed = seed
        self.seconds = seconds
        self.warmup = warmup
        self.corpus = self.make_corpus(seed)
        self.ops: list[dict] = []
        self.failed = 0

    # subclasses provide
    def make_corpus(self, seed: int) -> inputs.Corpus: ...
    def prepare(self) -> None: ...
    def warm_op(self): ...
    def op(self) -> dict: ...
    def check(self) -> tuple[bool, str]: ...
    def describe(self) -> str: ...

    @property
    def frames(self):
        """The vocabulary DataFrames of the current session."""
        return self.bench.frames

    def start_folds(self, wh: str) -> None:
        """Folds from here on go into the warehouse at ``wh``."""
        self.wh = wh
        self.p = self.bench.pipeline(wh)
        self.delta_rows = []
        self.n_folds = 0
        self.n_novel = 0

    def attempt(self, fn, keep: bool) -> bool:
        """Issues one operation and keeps its figures when ``keep``.  A
        failed operation is a result too: it is counted and kept."""
        try:
            out = fn()
        except Exception as exc:
            traceback.print_exc()
            self.failed += 1
            self.ops.append({"error": repr(exc)})
            return False
        if keep:
            self.ops.append(out)
        return True

    def warm_up(self) -> bool:
        """One untimed operation when ``warmup`` is set.  The first run of
        a plan pays its JIT and code-generation warm-up (a first
        link_heavy build takes ~25 % longer than the next, a first novel
        fold ~50 %), and how much it pays depends on how busy the host
        is, so it is left out of the figures."""
        return not self.warmup or self.attempt(self.warm_op, keep=False)

    def timed_loop(self) -> RssSampler:
        """Issues operations back to back until ``seconds`` have passed;
        returns the RSS sampler that watched them."""
        with RssSampler() as rss:
            t_end = time.perf_counter() + self.seconds
            while not self.ops or time.perf_counter() < t_end:
                if not self.attempt(self.op, keep=True):
                    break
        return rss

    def run(self) -> Result:
        res = Result()
        phases = {}
        t = time.perf_counter()
        setup = self.bench.setup(self.corpus)
        phases["setup"], t = time.perf_counter() - t, time.perf_counter()
        self.prepare()
        phases["prepare"], t = time.perf_counter() - t, time.perf_counter()
        if self.warm_up():
            phases["warm-up"], t = time.perf_counter() - t, time.perf_counter()
            rss = self.timed_loop()
        else:
            rss = RssSampler()
        phases["measure"], t = time.perf_counter() - t, time.perf_counter()
        try:
            ok, why = self.check()
        except Exception as exc:  # a check that cannot run has failed
            traceback.print_exc()
            ok, why = False, repr(exc)
        phases["check"] = time.perf_counter() - t
        good = [o for o in self.ops if "error" not in o]
        res.attempted = len(self.ops)
        res.failed = self.failed + (0 if ok else 1)
        res.correct = ok and self.failed == 0
        tps = [o["turns"] / o["wall_s"] for o in good]
        values = {
            "setup_s": setup["setup_s"],
            "turns_per_s": statistics.median(tps) if tps else 0.0,
        }
        res.metrics = {k: (values[k], unit) for k, unit in E2E_METRICS.items()}
        res.summary = self.summarize(setup, good, rss, res, why)
        res.summary.append(
            "phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items())
        )
        return res

    def summarize(self, setup, good, rss, res, why) -> list[str]:
        lines = [
            f"# workload {self.name} seed {self.seed}: {self.describe()}; "
            f"{'one' if self.warmup else 'no'} untimed warm-up operation"
        ]

        def stat(name, values, unit):
            if not values:
                lines.append(f"{name} n/a {unit} n=0")
                return
            q1, q2, q3 = quartiles(values)
            lines.append(
                f"{name} median={q2:.4f} {unit} q1={q1:.4f} q3={q3:.4f} n={len(values)}"
            )

        lines.append(
            f"setup_s value={setup['setup_s']:.4f} s (session {setup['session_s']:.4f} s"
            f" + vocab {setup['vocab_s']:.4f} s + index {setup['index_s']:.4f} s)"
        )
        for key, unit in self.summary_keys:
            stat(key, [o[key] for o in good if key in o], unit)
        stat("turns_per_s", [o["turns"] / o["wall_s"] for o in good], "1/s")
        lines.append(
            f"mem.peak_rss_mb value={rss.peak_bytes / 2**20:.1f} MB (JVM "
            f"{rss.peak_jvm_bytes / 2**20:.1f} MB, Python workers the rest)"
        )
        frac = res.failed / max(res.attempted, 1)
        lines.append(f"failed_frac value={frac:.4f} 1 n={res.attempted}")
        lines.append(f"check {'ok' if res.correct else 'FAILED'}: {why}")
        return lines


class LinkHeavy(Workload):
    name = "link_heavy"

    def make_corpus(self, seed):
        return inputs.link_heavy_corpus(seed)

    def describe(self):
        c = self.corpus
        return (
            f"{len(c.concept_rows)} concepts, {len(c.lexicon)} surface forms, "
            f"{len(c.base_rows)} turns; op = from-scratch Pipeline.run"
        )

    summary_keys = (("build_s", "s"),)

    def prepare(self):
        self.transcripts = self.bench.base_transcripts(self.corpus)
        self.n_turns = len(self.corpus.base_rows)
        self.last_out = None

    def warm_op(self):
        """A build into the set-up warehouse.  It reuses the vocabulary
        stage and index that set-up built there and runs every other stage
        once, so the timed builds run each stage for the second time."""
        return self.bench.pipeline(self.bench.setup_warehouse).run(
            self.transcripts, *self.frames, self.corpus.lexicon
        )

    def op(self):
        wh = self.bench.fresh_dir("build")
        p = self.bench.pipeline(wh)
        t0 = time.perf_counter()
        out = p.run(self.transcripts, *self.frames, self.corpus.lexicon)
        wall = time.perf_counter() - t0
        if self.last_out is not None:
            shutil.rmtree(self.last_out[0], ignore_errors=True)
        self.last_out = (wh, out)
        return {"wall_s": wall, "build_s": wall, "turns": self.n_turns}

    def check(self):
        if self.last_out is None:
            return False, "no build completed"
        return check_link_heavy_edges(self.corpus, self.last_out[1]["edges"])


class FoldStream(Workload):
    name = "fold_stream"

    def make_corpus(self, seed):
        return inputs.fixture_corpus(seed)

    def describe(self):
        c = self.corpus
        return (
            f"fixture base of {c.n_base_conversations} conversations, "
            f"{inputs.DELTA_TURNS}-turn deltas, "
            f"{inputs.NOVEL_PER_FOLD} novel forms per novel fold; "
            "op = known fold + novel fold"
        )

    summary_keys = (("fold_known_s", "s"), ("fold_novel_s", "s"), ("wall_s", "s"))

    def prepare(self):
        """Untimed base build.  It reuses the set-up warehouse, whose
        vocabulary stage and vocab index are already built."""
        self.base = self.bench.base_transcripts(self.corpus)
        self.start_folds(self.bench.setup_warehouse)
        self.p.run(self.base, *self.frames, self.corpus.lexicon)

    def warm_op(self):
        """One novel fold: it runs every plan a known fold runs and the
        link and graph merges besides."""
        return fold(self, "novel")

    def op(self):
        return fold_pair(self)

    def check(self):
        return check_fold_against_oracle(self)


def fold(w: Workload, kind: str, tracer=None) -> tuple[float, int]:
    """One ``known`` or ``novel`` fold into ``w.p``'s warehouse; the delta
    DataFrame is built and materialized before the timed call.  Returns
    the call's wall time and the delta's turns."""
    novel = kind == "novel"
    pdf = inputs.delta_rows(w.corpus, w.n_folds, w.n_novel if novel else None)
    df = w.bench.transcripts_frame(pdf)
    w.n_folds += 1
    w.n_novel += int(novel)
    w.delta_rows.append(pdf)
    with _maybe_span(tracer, f"fold.{kind}"):
        t0 = time.perf_counter()
        w.p.run_incremental(df, *w.frames, w.corpus.lexicon)
        wall = time.perf_counter() - t0
    return wall, len(pdf)


def fold_pair(w: Workload, tracer=None) -> dict:
    """One known fold then one novel fold."""
    out = {"turns": 0}
    for kind in ("known", "novel"):
        wall, turns = fold(w, kind, tracer)
        out[f"fold_{kind}_s"] = wall
        out["turns"] += turns
    out["wall_s"] = out["fold_known_s"] + out["fold_novel_s"]
    return out


WORKLOADS = {w.name: w for w in (LinkHeavy, FoldStream)}


# ================================================================ checks
def check_link_heavy_edges(corpus, edges_df) -> tuple[bool, str]:
    """Edges equal the designed truth: one ``maps-to`` edge per accepted
    surface form the transcripts mention, to its designed concept."""
    got = {
        r["mention_text"]: (r["obj"], r["pred"])
        for r in edges_df.select("mention_text", "obj", "pred").collect()
    }
    want = inputs.expected_edges(corpus, corpus.known_forms)
    wrong = [
        f for f in set(got) | set(want)
        if got.get(f) != ((want[f], "maps-to") if f in want else None)
    ]
    if wrong:
        return False, f"{len(wrong)} of {len(want)} edges differ from the designed truth, e.g. {sorted(wrong)[:3]}"
    return True, f"{len(got)} edges equal the designed truth"


def oracle_over(rows: list[tuple], lexicon: list[dict]) -> dict:
    """The package's sequential reference algorithm (``plans/oracle.py``)
    over ``rows`` with ``lexicon`` and the fixture vocabulary.  The oracle
    reads its transcripts and lexicon through two module-level generators;
    they are swapped for these inputs for the duration of the call."""
    from unittest import mock

    from omop_concept_automapper_spark.plans import oracle

    with mock.patch.object(
        oracle, "generate_transcript_rows", lambda n, seed: rows
    ), mock.patch.object(oracle, "build_lexicon", lambda seed: lexicon):
        return oracle.oracle_link(seed=inputs.FIXTURE_VOCAB_SEED)


def check_fold_against_oracle(w) -> tuple[bool, str]:
    """The folded warehouse's mentions, links and edges equal the
    sequential oracle over the base plus every delta folded into it."""
    from omop_concept_automapper_spark.catalog import Warehouse
    from omop_concept_automapper_spark.fixtures.transcripts import (
        generate_transcript_rows,
    )

    corpus = w.corpus
    rows = generate_transcript_rows(corpus.n_base_conversations, corpus.seed)
    for pdf in w.delta_rows:
        rows += list(pdf.itertuples(index=False, name=None))
    want = oracle_over(rows, corpus.lexicon)
    wh = Warehouse(w.bench.spark, w.wh)
    got_freq = {
        r["mention_text"]: r["freq"]
        for r in wh.table("mentions").read().select("mention_text", "freq").collect()
    }
    got_links = {
        r["mention_text"]: (r["concept_id"], r["confidence"])
        for r in wh.table("links").read().where("error IS NULL").collect()
    }
    got_edges = {
        r["mention_text"]: (r["pred"], r["obj"], float(r["confidence"]), r["mapping_method"])
        for r in wh.table("edges").read().collect()
    }
    want_links = {
        r["mention_text"]: (r["concept_id"], r["confidence"])
        for r in want["results"]
        if "concept_id" in r
    }
    want_edges = {
        e["mention_text"]: (e["pred"], e["obj"], float(e["confidence"]), e["mapping_method"])
        for e in want["edges"]
    }
    diffs = [
        name
        for name, got, exp in (
            ("mentions", got_freq, want["freq"]),
            ("links", got_links, want_links),
            ("edges", got_edges, want_edges),
        )
        if got != exp
    ]
    if diffs:
        return False, f"folded {diffs} differ from the sequential oracle"
    return True, (
        f"folded mentions ({len(got_freq)}), links and edges ({len(got_edges)}) "
        f"equal the sequential oracle over base + {len(w.delta_rows)} deltas "
        f"({w.n_novel * inputs.NOVEL_PER_FOLD} novel forms)"
    )
