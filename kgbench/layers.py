"""The traced run: per-layer metrics and the traced end-to-end figures.

1. The session starts with an uncompressed event log, sets up as an
   ordinary run does, and builds through the four ``stage_*`` methods
   ``Pipeline.run`` is made of, in its order, each in its own span (Spark
   job group).
2. Each layer's compute is replayed on the same inputs into the ``noop``
   sink; ``catalog.commit_s`` is the stage spans' wall time minus it.
3. One traced fold pair (``fold.known``, ``fold.novel``) on the built
   warehouse.
4. One pass over the operator queries (``opsuite.py``), a span each.
5. The session stops, the event log is parsed, and jobs, stages and tasks
   are attributed to spans by job group.

The traced operation is the build on ``link_heavy`` and the fold pair on
``fold_stream``, each the first of its JVM.  ``trace.<metric>`` is the
traced run's own end-to-end figure; the same figure of an untraced run
that times its first operation too (``--warmup 0 --seconds 1``, same
workload and seed) subtracted from it is the tracing overhead.
"""

from __future__ import annotations

import os
import time

from opsuite import OP_METRICS, OP_QUERIES, operator_pass
from spans import GroupStats, RssSampler, merged, parse_event_log
from workloads import (
    CATALOG_JOB_PREFIXES,
    STAGES,
    Result,
    check_fold_against_oracle,
    check_link_heavy_edges,
    fold_pair,
)

LAYER_METRICS = {
    "session.start_s": "s",
    "vocab.wall_s": "s",
    "vocab.python_s": "s",
    "vocab.concepts": "count",
    "detect.wall_s": "s",
    "detect.python_s": "s",
    "detect.turns_in": "count",
    "detect.occurrences_out": "count",
    "detect.bytes_to_python": "bytes",
    "agg.wall_s": "s",
    "agg.shuffle_write_bytes": "bytes",
    "agg.mentions_out": "count",
    "agg.task_skew": "ratio",
    "link.wall_s": "s",
    "link.python_s": "s",
    "link.index_build_s": "s",
    "link.mentions_in": "count",
    "link.accepted_frac": "ratio",
    "link.quarantined": "count",
    "graph.wall_s": "s",
    "graph.jobs": "count",
    "graph.shuffle_bytes": "bytes",
    "graph.edges_out": "count",
    "graph.nodes_out": "count",
    "catalog.commit_s": "s",
    "catalog.jobs": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "runner.vocab_embeddings_s": "s",
    "runner.mentions_s": "s",
    "runner.links_s": "s",
    "runner.graph_s": "s",
    "runner.jobs": "count",
    "runner.tasks": "count",
    "runner.spill_bytes": "bytes",
    "runner.span_cover": "ratio",
    "fold.known_s": "s",
    "fold.novel_s": "s",
    "fold.known_jobs": "count",
    "fold.novel_jobs": "count",
    "mem.peak_rss_mb": "MB",
    **{
        f"op.{q}.{m}": unit for q in OP_QUERIES.values() for m, unit in OP_METRICS.items()
    },
    "op.suite_s": "s",
    "trace.setup_s": "s",
    "trace.turns_per_s": "1/s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_build(bench, tracer, transcripts, frames, lexicon, wh: str) -> dict:
    """A from-scratch build through the four stage calls, one span each."""
    p = bench.pipeline(wh)
    t0 = time.perf_counter()
    with tracer.span("stage.vocab_embeddings"):
        vocab = p.stage_vocab_embeddings(*frames)
    with tracer.span("stage.mentions"):
        mentions = p.stage_mentions(transcripts, lexicon)
    with tracer.span("stage.links"):
        links = p.stage_links(mentions, vocab)
    with tracer.span("stage.graph"):
        p.stage_graph(links, links_snapshot_id=p.wh.table("links").current_snapshot_id())
    return {"pipeline": p, "wall_s": time.perf_counter() - t0}


def replay_layers(bench, tracer, p, transcripts, frames, lexicon) -> None:
    """Each layer's functions on the stage's own inputs, into ``noop``."""
    from omop_concept_automapper_spark.operators.knn import link_mentions_file_index
    from omop_concept_automapper_spark.plans.graph import (
        accepted_mappings,
        build_edges,
        build_nodes,
    )
    from omop_concept_automapper_spark.plans.mentions import (
        build_mention_table,
        extract_mention_occurrences,
    )
    from omop_concept_automapper_spark.plans.vocab_prep import build_vocab_embeddings

    cfg, wh, spark = p.cfg, p.wh, bench.spark
    with tracer.span("replay.vocab"):
        _noop(build_vocab_embeddings(*frames, domain_filter=cfg.domain_filter))
    with tracer.span("replay.detect"):
        _noop(extract_mention_occurrences(transcripts, [e["mention_text"] for e in lexicon]))
    with tracer.span("replay.agg"):
        _noop(build_mention_table(spark, wh.table("mention_occurrences").read(), lexicon))
    with tracer.span("replay.link"):
        _noop(
            link_mentions_file_index(
                spark, wh.table("mentions").read(), os.path.join(wh.root, "vocab_index"),
                k_standard=cfg.k_standard, k_drug=cfg.k_drug,
                target_domains=cfg.target_domains,
            )
        )
    with tracer.span("replay.graph"):
        accepted = accepted_mappings(wh.table("links").read(), cfg.confidence_threshold)
        _noop(build_edges(accepted, cfg.target_domains))
        _noop(build_nodes(accepted, single_target=True))


def _data_files(root: str) -> int:
    n = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "vocab_index"]
        n += sum(1 for f in filenames if f.endswith(".parquet"))
    return n


def traced_run(wl) -> Result:
    bench, corpus = wl.bench, wl.corpus
    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        phases[name], t = time.perf_counter() - t, time.perf_counter()

    # ---- 1. traced set-up and build, in the order of an ordinary run
    setup = bench.setup(corpus, traced=True)
    tracer = setup["tracer"]
    frames = bench.frames
    transcripts = bench.base_transcripts(corpus)
    n_turns = transcripts.count()
    build_wh = bench.fresh_dir("traced")
    with RssSampler() as rss_build:
        built = traced_build(bench, tracer, transcripts, frames, corpus.lexicon, build_wh)
    p = built["pipeline"]
    checks = []
    if wl.name == "link_heavy":
        checks.append(check_link_heavy_edges(corpus, p.wh.table("edges").read()))
        op, rss = {"wall_s": built["wall_s"], "turns": n_turns}, rss_build
    phase("build")
    # ---- 2. layer compute replays
    replay_layers(bench, tracer, p, transcripts, frames, corpus.lexicon)
    stage_counts = {s: (p.wh.stage_metrics(s) or {}).get("metrics", {}) for s in STAGES}
    links_df = p.wh.table("links").read()
    n_links = links_df.count()
    n_accepted = links_df.where(
        links_df["error"].isNull()
        & (links_df["confidence"] >= p.cfg.confidence_threshold)
    ).count()
    files_written = _data_files(build_wh)
    phase("replay")
    # ---- 3. traced fold pair on the built warehouse
    wl.base = transcripts
    wl.start_folds(build_wh)
    with RssSampler() as rss_fold:
        pair = fold_pair(wl, tracer)
    if wl.name == "fold_stream":
        checks.append(check_fold_against_oracle(wl))
        op, rss = pair, rss_fold
    phase("fold")
    # ---- 4. the operator layer
    op_checks = operator_pass(bench.spark, tracer, bench.work, wl.seed)
    phase("operators")
    spans = tracer.spans
    # ---- 5. attribute the event log
    bench.spark.stop()
    bench.spark = None
    groups = parse_event_log(bench.event_dir)
    phase("parse")

    def g(name):
        return groups.get(name) or GroupStats()

    stage_groups = [f"stage.{s}" for s in STAGES]
    runner = merged(groups, stage_groups)
    replay_s = {k: spans[f"replay.{k}"].wall_s for k in ("vocab", "detect", "agg", "link", "graph")}
    index_s = setup["index_s"]
    compute = {
        "vocab_embeddings": replay_s["vocab"],
        "mentions": replay_s["detect"] + replay_s["agg"],
        "links": replay_s["link"] + index_s,
        "graph": replay_s["graph"],
    }
    stage_wall = {s: spans[f"stage.{s}"].wall_s for s in STAGES}
    catalog_jobs = [
        j for j, d in runner.descriptions.items() if d.startswith(CATALOG_JOB_PREFIXES)
    ]
    catalog_bytes = sum(
        b for d, b in runner.output_bytes_by_desc.items() if d.startswith(CATALOG_JOB_PREFIXES)
    )
    values = {
        "session.start_s": setup["session_s"],
        "vocab.wall_s": replay_s["vocab"],
        "vocab.python_s": g("replay.vocab").python_run_ms / 1000,
        "vocab.concepts": int(stage_counts["vocab_embeddings"].get("rows_appended", 0)),
        "detect.wall_s": replay_s["detect"],
        "detect.python_s": g("replay.detect").python_run_ms / 1000,
        "detect.turns_in": n_turns,
        "detect.occurrences_out": int(stage_counts["mentions"].get("occurrences", 0)),
        "detect.bytes_to_python": g("replay.detect").python_bytes_sent,
        "agg.wall_s": replay_s["agg"],
        "agg.shuffle_write_bytes": g("replay.agg").shuffle_write_bytes,
        "agg.mentions_out": int(stage_counts["mentions"].get("mentions", 0)),
        "agg.task_skew": g("replay.agg").task_skew,
        "link.wall_s": replay_s["link"],
        "link.python_s": g("replay.link").python_run_ms / 1000,
        "link.index_build_s": index_s,
        "link.mentions_in": int(stage_counts["mentions"].get("mentions", 0)),
        "link.accepted_frac": n_accepted / n_links if n_links else 0.0,
        "link.quarantined": int(stage_counts["links"].get("quarantined", 0)),
        "graph.wall_s": replay_s["graph"],
        "graph.jobs": len(g("stage.graph").jobs),
        "graph.shuffle_bytes": g("stage.graph").shuffle_write_bytes,
        "graph.edges_out": int(stage_counts["graph"].get("edges", 0)),
        "graph.nodes_out": int(stage_counts["graph"].get("nodes", 0)),
        "catalog.commit_s": sum(stage_wall[s] - compute[s] for s in STAGES),
        "catalog.jobs": len(catalog_jobs),
        "catalog.bytes_written": catalog_bytes,
        "catalog.files_written": files_written,
        **{f"runner.{s}_s": stage_wall[s] for s in STAGES},
        "runner.jobs": len(runner.jobs),
        "runner.tasks": runner.tasks,
        "runner.spill_bytes": runner.spill_bytes,
        "runner.span_cover": sum(stage_wall.values()) / built["wall_s"],
        "fold.known_s": pair["fold_known_s"],
        "fold.novel_s": pair["fold_novel_s"],
        "fold.known_jobs": len(g("fold.known").jobs),
        "fold.novel_jobs": len(g("fold.novel").jobs),
        "mem.peak_rss_mb": rss.peak_bytes / 2**20,
        **{
            f"op.{q}.{m}": v
            for q in OP_QUERIES.values()
            for m, v in (
                ("wall_s", spans[f"op.{q}"].wall_s),
                ("jobs", len(g(f"op.{q}").jobs)),
                ("shuffle_bytes", g(f"op.{q}").shuffle_write_bytes),
            )
        },
        "op.suite_s": sum(spans[f"op.{q}"].wall_s for q in OP_QUERIES.values()),
        "trace.setup_s": setup["setup_s"],
        "trace.turns_per_s": op["turns"] / op["wall_s"],
    }
    res = Result()
    res.attempted = 3  # the traced build, the traced fold pair, the query pass
    res.failed = sum(1 for ok, _ in checks if not ok) + int(
        not all(ok for ok, _ in op_checks)
    )
    res.correct = res.failed == 0
    res.metrics = {k: (values[k], unit) for k, unit in LAYER_METRICS.items()}
    res.summary = [f"# traced run of {wl.name} seed {wl.seed}: {wl.describe()}"]
    res.summary += [f"{k} {values[k]:.6g} {u}" for k, u in LAYER_METRICS.items()]
    res.summary += [
        f"stage spans cover {values['runner.span_cover']:.4f} of the traced build "
        f"({built['wall_s']:.3f} s)",
    ]
    res.summary.append("phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    res.summary += [
        f"check {'ok' if ok else 'FAILED'}: {why}" for ok, why in checks + op_checks
    ]
    return res

