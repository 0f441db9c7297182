"""The benchmark's workloads: input sizes, the job each run times, and
the reference check of its output.

``kg_build`` is the flagship knowledge-graph job exactly as ``runner.py``
ships it via spark-submit: pages read by crawl day, ``run_pipeline`` with
every stage persisted under an out_dir (lineage rows and the error side
table included), then the runner's summary counts. ``webtext_dedup`` is
the training-data curation path: ``curate_corpus`` and the five
``operators.dedup`` operators (production ``hash_fn="xxhash64"`` where
offered), each forced by collecting its result. The two share no layer,
so each one's prediction for a change to the other's layers is "no
change".
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil

from perfbench import gen, reference

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END_UNITS = dict(
    setup_s="s", setup_cpu_s="s", cold_build_cpu_s="s", cold_build_jobs="count",
)
KG_SIZES = dict(n_pages=250, n_auth=600, n_noise=250, html_kb=3, text_frac=0.5)
WEBTEXT_SIZES = dict(n_docs=700, words_per_doc=50, dup_frac=0.05, near_frac=0.05)


# Files the generated inputs and references are computed from. A cached
# copy is reused only while all of them are unchanged.
INPUT_SOURCES = (
    "perfbench/gen.py",
    "perfbench/reference.py",
    "perfbench/workloads.py",
    "serialization_agents_spark",  # synth, oracle, functions.text and what they import
)


def input_key(sizes: dict) -> str:
    """Digest of the sizes and of every file in INPUT_SOURCES."""
    h = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode())
    for src in INPUT_SOURCES:
        path = os.path.join(ROOT, src)
        if os.path.isdir(path):
            h.update(_digest(path, suffix=".py").encode())
        else:
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _digest(path: str, suffix: str = "") -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(suffix):
                continue
            h.update(os.path.relpath(os.path.join(d, f), path).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def prepare(workload: str, seed: int, root: str, sizes: dict | None = None) -> dict:
    """Generate the inputs and the reference for (workload, seed) under
    `root`; later calls read the cached copy while its input_key holds."""
    sizes = sizes or (KG_SIZES if workload == "kg_build" else WEBTEXT_SIZES)
    key = input_key(sizes)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            ref = json.load(f)
        if ref.get("input_key") == key:
            return ref
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "kg_build":
        pages, authority = gen.kg_rows(seed, **sizes)
        gen.write_kg(tmp, pages, authority)
        ref = dict(
            n_docs=len(pages),
            triples=reference.kg_triples(pages, authority, gen.REDIRECTS, gen.BLACKLIST),
        )
    else:
        docs, exact, near = gen.webtext_docs(seed, **sizes)
        gen.write_docs(tmp, docs)
        ref = reference.webtext(docs, exact, near)
    ref["input_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tmp) for f in fs
    )
    ref["input_sha256"] = _digest(tmp)
    ref["input_key"] = key
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(ref, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return ref


def job(workload: str, spark, inputs: str, out_dir: str):
    """The timed operation: one complete job, forced."""
    if workload == "kg_build":
        return kg_job(inputs, out_dir)
    return webtext_job(spark, inputs)


def check(workload: str, spark, out, ref: dict) -> tuple[list[str], str]:
    """(problems, result fingerprint) for one job's output."""
    if workload == "kg_build":
        return kg_check(spark, out, ref)
    return webtext_check(out, ref)


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------
def kg_inputs(spark, inputs: str):
    """(pages, authority, redirects, blacklist) read the way runner.py
    reads them."""
    from serialization_agents_spark.sources.pages import (
        read_authority,
        read_pages,
        read_redirects,
    )

    return (
        read_pages(spark, os.path.join(inputs, "pages")),
        read_authority(spark, os.path.join(inputs, "authority")),
        read_redirects(spark, os.path.join(inputs, "redirects")),
        spark.read.parquet(os.path.join(inputs, "blacklist")),
    )


def kg_job(inputs: str, out_dir: str) -> dict:
    """What one spark-submit of runner.py does, minus process start: read
    the corpus, run_pipeline with every stage persisted under `out_dir`,
    print the summary. Returns the summary (out_dir added)."""
    from serialization_agents_spark import runner

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = runner.main([
            "--pages", os.path.join(inputs, "pages"),
            "--authority", os.path.join(inputs, "authority"),
            "--redirects", os.path.join(inputs, "redirects"),
            "--blacklist", os.path.join(inputs, "blacklist"),
            "--out-dir", out_dir,
        ])
    if rc != 0:
        raise RuntimeError(f"runner exited {rc}")
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    summary["out_dir"] = out_dir
    return summary


def kg_check(spark, summary: dict, ref: dict) -> tuple[list[str], str]:
    out_dir = summary["out_dir"]
    triples = {tuple(r) for r in spark.read.parquet(os.path.join(out_dir, "triples")).collect()}
    shutil.rmtree(out_dir, ignore_errors=True)
    want = {tuple(t) for t in ref["triples"]}
    bad = []
    if triples != want:
        bad.append(
            f"triples differ from the oracle: {len(triples - want)} extra, "
            f"{len(want - triples)} missing"
        )
    if summary["n_triples"] != len(want):
        bad.append("runner summary reports the wrong triple count")
    return bad, _fingerprint(sorted(triples))


# ---------------------------------------------------------------------------
# webtext_dedup
# ---------------------------------------------------------------------------
def webtext_ops():
    """(layer, operator) in the order a curation job runs them; each
    operator maps the docs frame to one result frame."""
    from serialization_agents_spark.operators import dedup as D
    from serialization_agents_spark.operators.curate import curate_corpus

    return [
        ("curate", curate_corpus),
        ("dedup.exact", D.exact_duplicates),
        ("dedup.minhash", lambda d: D.minhash_candidate_pairs(d, hash_fn="xxhash64")),
        ("dedup.winnow", lambda d: D.winnow_pairs(d, hash_fn="xxhash64")[0]),
        ("dedup.spans", D.repeated_span_stats),
        ("dedup.chunks", D.chunk_dedup),
    ]


def webtext_docs(spark, inputs: str):
    return spark.read.parquet(os.path.join(inputs, "docs"))


def webtext_job(spark, inputs: str) -> dict:
    """One curation job: every operator's collected rows, by layer."""
    docs = webtext_docs(spark, inputs)
    return {name: op(docs).collect() for name, op in webtext_ops()}


def webtext_check(out: dict, ref: dict) -> tuple[list[str], str]:
    bad = []
    exact = {r["content_hash"]: [r["keeper_id"], r["dup_count"]] for r in out["dedup.exact"]}
    if exact != ref["exact"]:
        bad.append("exact_duplicates differs from the reference")
    chunks = {
        str(r["doc_id"]): [r["total_chunks"], r["kept_chunks"], r["dedup_text"]]
        for r in out["dedup.chunks"]
    }
    if chunks != ref["chunks"]:
        bad.append("chunk_dedup differs from the reference")
    for layer in ("dedup.minhash", "dedup.winnow"):
        got = {(r["id_a"], r["id_b"]) for r in out[layer]}
        missed = [p for p in ref["exact_pairs"] if tuple(p) not in got]
        if missed:
            bad.append(f"{layer} missed {len(missed)} planted exact-duplicate pairs")
    spans = {
        str(r["doc_id"]): [r["n_windows"], r["dup_windows"]] for r in out["dedup.spans"]
    }
    if spans != ref["spans"] or any(
        abs(r["dup_fraction"] - r["dup_windows"] / r["n_windows"]) > 5.1e-5
        for r in out["dedup.spans"]
    ):
        bad.append("repeated_span_stats differs from the reference")
    status = {r["doc_id"]: r["status"] for r in out["curate"]}
    if len(status) != ref["n_docs"]:
        bad.append("curate_corpus did not return one row per document")
    if any(status.get(i) != "duplicate" for i in ref["duplicate_ids"]):
        bad.append("curate_corpus kept a later copy of an identical text")
    if any(status.get(keeper) == "duplicate" for keeper, _ in ref["exact"].values()):
        bad.append("curate_corpus marked the first copy of a text as a duplicate")
    return bad, _fingerprint(
        {k: sorted(tuple(r) for r in rows) for k, rows in sorted(out.items())}
    )


def webtext_precision(out: dict, ref: dict) -> dict:
    cluster = reference.clusters(ref["all_pairs"])
    return {
        f"{layer}.pair_precision": reference.pair_precision(
            {(r["id_a"], r["id_b"]) for r in out[layer]}, cluster
        )
        for layer in ("dedup.minhash", "dedup.winnow")
    }


def _fingerprint(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()
