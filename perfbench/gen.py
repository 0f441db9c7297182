"""Seeded input generation for the benchmark workloads.

Everything here is plain Python plus pyarrow, so inputs exist on disk
before any Spark session starts and generation is never inside a timed
region. Every pseudo-random draw comes from ``random.Random`` seeded
with (workload, seed); the same pair always writes the same rows.

``kg_pages`` mirrors ``synth.synth_pages`` (celebrity head entity in ~10%
of pages, quadratically skewed authority picks, viaf / lcnaf / plain
hints, unlisted noise names, name- and topic-typed subject blocks) and
reuses ``synth.authority_records`` for the authority dimension. Pages
are laid out by crawl day (``crawl_date=YYYY-MM-DD`` directories), the
layout ``sources.write_pages_partitioned`` produces.

``webtext_docs`` writes English-like documents with planted exact
duplicates, near duplicates and shared boilerplate openings.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from serialization_agents_spark import synth
from serialization_agents_spark.functions.text import STOPWORDS_EN

BASE_TS = 1704067200  # 2024-01-01T00:00:00Z
N_DAYS = 7
PAD_UNIT = "lorem ipsum dolor sit amet consetetur sadipscing elitr sed diam nonumy "

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
AUTHORITY_SCHEMA = pa.schema(
    [
        ("viaf_id", pa.string()),
        ("viaf_all", pa.list_(pa.string())),
        ("source_count", pa.int32()),
        ("type", pa.string()),
        ("has_lc", pa.bool_()),
        ("lc_id", pa.string()),
        ("getty_id", pa.string()),
        ("wikidata_id", pa.string()),
        ("lc_term", pa.string()),
        ("dnb_term", pa.string()),
        ("viaf_term", pa.string()),
        ("birth", pa.string()),
        ("death", pa.string()),
        ("dbpedia_id", pa.string()),
        ("normalized", pa.list_(pa.string())),
        ("fast", pa.list_(pa.int64())),
    ]
)
REDIRECTS_SCHEMA = pa.schema(
    [("old_id", pa.string()), ("new_id", pa.string()),
     ("lc_id", pa.string()), ("use_instead_lc", pa.string())]
)
BLACKLIST_SCHEMA = pa.schema([("name", pa.string())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

# the golden redirect / blacklist fixtures the tests use
REDIRECTS = [
    ("264030008", "137799745", None, None),
    ("9431627", None, None, None),  # deleted: hints to it are dead
    ("137799745", None, "n87890313", None),
    ("85312226", None, "n85367769", "22324673"),
]
BLACKLIST = ["Unknown", "Anonymous", "[no name]", "Unidentified"]


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def _mention_html(name: str, viaf: str | None, lc: str | None, mode: int) -> str:
    if mode == 1:
        return f'<p>Work by <span class="agent" data-viaf="{viaf}">{name}</span> reviewed.</p>'
    if mode == 2 and lc is not None:
        return (
            '<p>Work by <span class="agent" '
            f'data-lcnaf="http://id.loc.gov/authorities/names/{lc}">{name}</span>'
            " reviewed.</p>"
        )
    return f'<p>Work by <span class="agent">{name}</span> reviewed.</p>'


def kg_rows(
    seed: int, n_pages: int, n_auth: int, n_noise: int, html_kb: int,
    text_frac: float,
) -> tuple[list[dict], list[dict]]:
    """(pages, authority) rows for one seed — pure data, no files."""
    rng = _rng("kg", seed)
    auth = synth.authority_records(n_auth)
    n_units = max(1, (html_kb * 1024) // len(PAD_UNIT))
    padding = (PAD_UNIT * n_units).rstrip()

    def pick() -> dict:
        u = rng.random()
        return auth[int(u * u * n_auth)]

    def hinted(a: dict) -> tuple[str, str]:
        draw = rng.randrange(100)
        mode = 1 if draw < 60 else 2 if draw < 75 else 0
        name = a["_display"]
        return _mention_html(name, a["viaf_id"], a["lc_id"], mode), f"Work by {name} reviewed."

    # Authorities without an LC heading whose display names coincide
    # merge in canonicalize. Random picks reach the second of such a pair
    # rarely (a few seeds in a hundred mention none), so the first page
    # names the first pair with viaf hints: every seed runs CC rounds.
    by_name: dict[str, list[dict]] = {}
    for a in auth:
        if not a["has_lc"]:
            by_name.setdefault(a["_display"], []).append(a)
    twins = next((v[:2] for v in by_name.values() if len(v) >= 2), [])

    pages = []
    for i in range(n_pages):
        html, text = [], []
        for a in twins if i == 0 else ():
            html.append(_mention_html(a["_display"], a["viaf_id"], None, 1))
            text.append(f"Work by {a['_display']} reviewed.")
        if rng.randrange(100) < 10:  # celebrity head entity
            mode = 1 if rng.randrange(100) < 60 else 0
            name = auth[0]["_display"]
            html.append(_mention_html(name, auth[0]["viaf_id"], None, mode))
            text.append(f"Work by {name} reviewed.")
        for present in (True, rng.randrange(100) < 60):
            a = pick()
            if present:
                h, t = hinted(a)
                html.append(h)
                text.append(t)
        if rng.randrange(100) < 25:
            name = f"Unlisted Person {rng.randrange(n_noise)}"
            html.append(_mention_html(name, "", None, 0))
            text.append(f"Work by {name} reviewed.")
        junk = rng.randrange(200)
        if junk == 0:  # blacklisted name: an S15 error row
            html.append(_mention_html("Unknown", None, None, 0))
            text.append("Work by Unknown reviewed.")
        elif junk == 1:  # hint to a deleted viaf id: a dead_viaf error row
            html.append(_mention_html("Ghost Writer", "9431627", None, 1))
            text.append("Work by Ghost Writer reviewed.")
        if rng.randrange(100) < 20:
            name = pick()["_display"]
            html.append(
                f'<p>Subjects: <span class="subject" data-type="name">{name}</span></p>'
            )
            text.append(f"Subjects: {name}")
        if rng.randrange(100) < 10:
            t = rng.randrange(20)
            html.append(
                f'<p>Theme: <span class="subject" data-type="topic">Topic T{t}</span></p>'
            )
            text.append(f"Theme: Topic T{t}")
        filler = f"Page {i} of the example archive."
        html.append(f"<p>{filler}</p><p>{padding}</p>")
        text += [filler, padding]
        body = (
            "<html><head><title>Example</title><script>track();</script>"
            "<style>.x{}</style></head><body>" + synth.NAV_HTML + "".join(html)
            + synth.AD_HTML + synth.FOOTER_HTML + "</body></html>"
        )
        lang = rng.randrange(100)
        pages.append(
            dict(
                url=f"https://example.org/site{i % 1000}/page{i}",
                warc_ts=BASE_TS + rng.randrange(N_DAYS * 86400),
                html=body.encode("utf-8"),
                text=" ".join(text) if rng.random() < text_frac else None,
                lang="en" if lang < 85 else "de" if lang < 90 else "fr" if lang < 95 else "es",
            )
        )
    authority = [{k: v for k, v in r.items() if k != "_display"} for r in auth]
    return pages, authority


def write_kg(root: str, pages: list[dict], authority: list[dict]) -> None:
    """Write the KG inputs under `root`: pages/ (by crawl day),
    authority/, redirects/, blacklist/."""
    by_day: dict[str, list[dict]] = {}
    for p in pages:
        day = dt.datetime.fromtimestamp(p["warc_ts"], dt.timezone.utc).date().isoformat()
        by_day.setdefault(day, []).append(p)
    for day, rows in sorted(by_day.items()):
        d = os.path.join(root, "pages", f"crawl_date={day}")
        os.makedirs(d)
        cols = {f.name: [r[f.name] for r in rows] for f in PAGES_SCHEMA}
        cols["warc_ts"] = [t * 1_000_000 for t in cols["warc_ts"]]
        pq.write_table(
            pa.table(cols, schema=PAGES_SCHEMA), os.path.join(d, "part-0.parquet")
        )
    _write(root, "authority", AUTHORITY_SCHEMA, authority)
    _write(root, "redirects", REDIRECTS_SCHEMA,
           [dict(zip(REDIRECTS_SCHEMA.names, r)) for r in REDIRECTS])
    _write(root, "blacklist", BLACKLIST_SCHEMA, [{"name": n} for n in BLACKLIST])


def _write(root: str, name: str, schema: pa.Schema, rows: list[dict]) -> None:
    os.makedirs(os.path.join(root, name))
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        os.path.join(root, name, "part-0.parquet"),
    )


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def webtext_docs(
    seed: int, n_docs: int, words_per_doc: int, dup_frac: float, near_frac: float,
) -> tuple[list[dict], list[tuple[int, int]], list[tuple[int, int]]]:
    """(docs, planted exact-duplicate pairs, planted near-duplicate pairs).

    Words mix English stopwords (so the language and quality gates keep
    most documents) with a seeded vocabulary; ~15% of documents open
    with one of a few shared 24-word boilerplate blocks, which chunk
    dedup must keep once."""
    rng = _rng("webtext", seed)
    vocab = _vocab(rng, 4000)
    stop = list(STOPWORDS_EN)

    def words(n: int) -> list[str]:
        return [rng.choice(stop) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n)]

    boiler = [words(24) for _ in range(5)]
    docs: list[list[str]] = []
    exact: list[tuple[int, int]] = []
    near: list[tuple[int, int]] = []
    for i in range(n_docs):
        draw = rng.random()
        if i > 0 and draw < dup_frac:
            src = rng.randrange(i)
            docs.append(list(docs[src]))
            exact.append((src, i))
        elif i > 0 and draw < dup_frac + near_frac:
            src = rng.randrange(i)
            toks = list(docs[src])
            for _ in range(3):  # a few substituted words: Jaccard stays high
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            docs.append(toks)
            near.append((src, i))
        else:
            head = list(boiler[rng.randrange(5)]) if rng.random() < 0.15 else []
            docs.append(head + words(words_per_doc - len(head)))
    rows = [{"doc_id": i, "text": " ".join(t)} for i, t in enumerate(docs)]
    return rows, exact, near


def write_docs(root: str, rows: list[dict], n_files: int = 8) -> None:
    """Spread the corpus over several files, as a crawl shard would be."""
    os.makedirs(os.path.join(root, "docs"))
    for k in range(n_files):
        pq.write_table(
            pa.Table.from_pylist(rows[k::n_files], schema=DOCS_SCHEMA),
            os.path.join(root, "docs", f"part-{k}.parquet"),
        )
