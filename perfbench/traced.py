"""The traced run: per-layer metrics for one workload.

After set-up the run executes, each inside spans (see trace.py):

1. ``job`` — the untimed-run job itself, untraced inside (one span);
2. kg_build only: ``pipeline.resume`` — the same job again over the
   complete ``out_dir``, so every stage is read back;
3. ``replay`` — the job's layers called one by one in the job's own
   order, each forcing its output into an eager ``localCheckpoint`` so
   lazy work lands in the layer that declared it, each followed by a
   ``trace.rows`` span that counts (or collects) that output.

Layer walls are reconciled against the replay's total
(``trace.unattributed_frac``), the replay is compared with the job
(``trace.overhead_frac``), and no Spark job may fall outside a span.
"""

from __future__ import annotations

import os
import sys

from perfbench.trace import Tracer

KG_LAYERS = (
    "session", "sources", "extract", "mentions", "linking", "merge",
    "canonicalize", "alt_forms", "enumerate", "triples", "errors", "pipeline",
)
KG_FIELDS = (
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"), ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"), ("rows_out", "count", "higher"),
)
WEBTEXT_LAYERS = (
    "curate", "dedup.exact", "dedup.minhash", "dedup.winnow", "dedup.spans", "dedup.chunks",
)
WEBTEXT_FIELDS = (
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
    ("exec_cpu_s", "s", "lower"), ("shuffle_write_mb", "MB", "lower"),
)
STAGE_DIRS = (
    "extract", "mentions", "linked", "agents", "canonical", "triples", "_metrics", "_errors",
)
EXTRA = (
    ("canonicalize.cc_iterations", "count", "lower"),
    ("linking.linked_frac", "frac", "higher"),
    ("merge.task_skew", "ratio", "lower"),
    ("dedup.minhash.pair_precision", "frac", "higher"),
    ("dedup.winnow.pair_precision", "frac", "higher"),
    *((f"pipeline.{d.lstrip('_')}.written_mb", "MB", "lower") for d in STAGE_DIRS),
    ("pipeline.write_amp", "ratio", "lower"),
    ("pipeline.resume.wall_s", "s", "lower"),
    ("pipeline.resume.jobs", "count", "lower"),
    ("trace.job_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
    ("trace.overhead_frac", "frac", "lower"),
    ("trace.unattributed_frac", "frac", "lower"),
    ("trace.orphan_jobs", "count", "lower"),
)
PER_LAYER = (
    [(f"{l}.{f}", u, b) for l in KG_LAYERS for f, u, b in KG_FIELDS
     if not (l == "session" and f == "rows_out")]
    + [(f"{l}.{f}", u, b) for l in WEBTEXT_LAYERS for f, u, b in WEBTEXT_FIELDS]
    + list(EXTRA)
)
UNITS = {n: u for n, u, _ in PER_LAYER}


def _cp(df):
    return df.localCheckpoint(eager=True)


def _layer(m: dict, layer: str, span: dict, rows: int | None = None) -> None:
    for f in ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_mb", "spill_mb"):
        if f"{layer}.{f}" in UNITS:
            m[f"{layer}.{f}"] = span[f]
    if rows is not None and f"{layer}.rows_out" in UNITS:
        m[f"{layer}.rows_out"] = rows


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


def traced_metrics(spark, runner, setup_s: float, seed: int) -> tuple[dict, bool]:
    from perfbench import run

    W, workload, inputs, ref = runner.W, runner.workload, runner.inputs, runner.ref
    tr = Tracer(spark, run_id=f"{workload}-{seed}")
    m = {n: 0.0 for n in UNITS}
    problems: list[str] = []

    session = tr.jobs_metrics(range(tr.first_job))
    _layer(m, "session", dict(session, wall_s=setup_s))

    out_dir = os.path.join(run.WORK, "out", "traced")
    runner.attempted += 1
    with tr.span("job") as job:
        out = W.job(workload, spark, inputs, out_dir)
    m["trace.job_s"] = job["wall_s"]
    if workload == "kg_build":
        _layer(m, "pipeline", job, rows=out["n_triples"])
        in_mb = ref["input_bytes"] / 2**20
        for d in STAGE_DIRS:
            m[f"pipeline.{d.lstrip('_')}.written_mb"] = _dir_mb(os.path.join(out_dir, d))
        m["pipeline.write_amp"] = _dir_mb(out_dir) / in_mb
        runner.attempted += 1
        with tr.span("pipeline.resume") as resume:
            again = W.job(workload, spark, inputs, out_dir)
        m["pipeline.resume.wall_s"] = resume["wall_s"]
        m["pipeline.resume.jobs"] = resume["jobs"]
        if again["stages_computed"]:
            problems.append(f"resume recomputed {again['stages_computed']}")
    with tr.span("trace.check"):
        bad, _ = W.check(workload, spark, out, ref)
    problems += bad

    runner.attempted += 1
    with tr.span("replay", leaf=False) as replay:
        if workload == "kg_build":
            _kg_replay(spark, tr, W, inputs, ref, m, problems)
        else:
            _webtext_replay(spark, tr, W, inputs, ref, m, problems)
    if not run.settle(spark):
        problems.append("cached blocks still held after the replay")

    children = [s for s in tr.spans if s["parent"] == replay["id"]]
    m["jvm.peak_rss_mb"] = run.jvm_peak_rss_mb(spark)
    m["trace.overhead_frac"] = replay["wall_s"] / job["wall_s"] - 1
    m["trace.unattributed_frac"] = 1 - sum(s["wall_s"] for s in children) / replay["wall_s"]
    orphans = tr.orphan_jobs()
    m["trace.orphan_jobs"] = len(orphans)
    if orphans:
        problems.append(f"Spark jobs outside every span: {orphans}")
    tr.dump(os.path.join(run.WORK, f"spans-{workload}-{seed}.jsonl"))
    _print_table(tr, replay, m)
    for p in problems:
        run.log(f"[{workload}] traced run: {p}")
    return m, not problems


def _kg_replay(spark, tr, W, inputs, ref, m, problems) -> None:
    from pyspark.sql import functions as F

    from serialization_agents_spark.operators.canonicalize import canonicalize_agents
    from serialization_agents_spark.operators.enumerate_ids import enumerate_ids
    from serialization_agents_spark.operators.extract import with_extracted_text
    from serialization_agents_spark.operators.linking import link_mentions
    from serialization_agents_spark.operators.mentions import detect_mentions
    from serialization_agents_spark.operators.merge import merge_entities, score_alt_forms
    from serialization_agents_spark.operators.triples import materialize_triples
    from serialization_agents_spark.plans.errors import pipeline_errors

    def rows(layer, df) -> int:
        with tr.span("trace.rows"):
            n = df.count()
        m[f"{layer}.rows_out"] = n
        return n

    with tr.span("sources") as s:
        pages, authority, redirects, blacklist = map(_cp, W.kg_inputs(spark, inputs))
    _layer(m, "sources", s)
    rows("sources", pages)
    with tr.span("extract") as s:
        pages_x = _cp(with_extracted_text(pages))
    _layer(m, "extract", s)
    rows("extract", pages_x)
    with tr.span("mentions") as s:
        mentions = _cp(detect_mentions(pages_x, include_subjects=True))
    _layer(m, "mentions", s)
    rows("mentions", mentions)
    with tr.span("linking") as s:
        linked, dead = link_mentions(mentions, authority, redirects, blacklist)
        linked, dead = _cp(linked), _cp(dead)
    _layer(m, "linking", s)
    with tr.span("trace.rows"):
        r = linked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("entity_key").startswith("viaf:").cast("int")).alias("k"),
        ).first()
    m["linking.rows_out"] = r["n"]
    m["linking.linked_frac"] = (r["k"] or 0) / r["n"] if r["n"] else 0.0
    with tr.span("merge") as s:
        agents = _cp(merge_entities(linked))
    _layer(m, "merge", s)
    if s["stage_ids"]:
        m["merge.task_skew"] = tr.task_skew(max(s["stage_ids"]))
    rows("merge", agents)
    with tr.span("canonicalize") as s:
        canonical, iters = canonicalize_agents(agents)
        canonical = _cp(canonical)
    _layer(m, "canonicalize", s)
    m["canonicalize.cc_iterations"] = iters
    rows("canonicalize", canonical)
    with tr.span("alt_forms") as s:
        canonical = _cp(score_alt_forms(canonical))
    _layer(m, "alt_forms", s)
    rows("alt_forms", canonical)
    with tr.span("enumerate") as s:
        canonical = _cp(enumerate_ids(canonical, order_col="entity_key"))
    _layer(m, "enumerate", s)
    rows("enumerate", canonical)
    with tr.span("triples") as s:
        triples = _cp(materialize_triples(canonical, linked))
    _layer(m, "triples", s)
    with tr.span("trace.rows"):
        got = {tuple(r) for r in triples.collect()}
    m["triples.rows_out"] = len(got)
    if got != {tuple(t) for t in ref["triples"]}:
        problems.append("replayed triples differ from the oracle")
    with tr.span("errors") as s:
        errors = _cp(pipeline_errors(pages_x, mentions, dead, blacklist))
    _layer(m, "errors", s)
    rows("errors", errors)


def _webtext_replay(spark, tr, W, inputs, ref, m, problems) -> None:
    with tr.span("sources") as s:
        docs = _cp(W.webtext_docs(spark, inputs))
    _layer(m, "sources", s)
    with tr.span("trace.rows"):
        m["sources.rows_out"] = docs.count()
    out = {}
    for layer, op in W.webtext_ops():
        with tr.span(layer) as s:
            df = _cp(op(docs))
        _layer(m, layer, s)
        with tr.span("trace.rows"):
            out[layer] = df.collect()
        del df
    bad, _ = W.webtext_check(out, ref)
    problems += [f"replay: {b}" for b in bad]
    m.update(W.webtext_precision(out, ref))


def _print_table(tr, replay, m) -> None:
    """Per-layer table of the replay on standard error."""
    total = replay["wall_s"]
    lines = [f"{'span':<16}{'wall_s':>9}{'share':>7}{'jobs':>6}{'tasks':>7}"
             f"{'cpu_s':>8}{'shuf_mb':>9}{'spill_mb':>9}"]
    for s in tr.spans:
        if not s["leaf"]:
            continue
        share = s["wall_s"] / total if s["parent"] == replay["id"] else float("nan")
        lines.append(
            f"{s['name']:<16}{s['wall_s']:>9.3f}{share:>7.1%}{s['jobs']:>6}"
            f"{s['tasks']:>7}{s['exec_cpu_s']:>8.2f}{s['shuffle_write_mb']:>9.2f}"
            f"{s['spill_mb']:>9.2f}"
        )
    lines.append(
        f"replay total {total:.3f} s; unattributed {m['trace.unattributed_frac']:.1%}; "
        f"overhead vs job {m['trace.overhead_frac']:+.1%}"
    )
    print("\n".join(lines), file=sys.stderr, flush=True)
