"""Seeded input generators for the four workloads.

Everything here is a pure function of the workload seed: the same seed
gives byte-identical tables. Tables are built in the benchmark process
and written as parquet with pyarrow, so the program under test only
ever sees the generated files.

Generators:

* :func:`documents` -- plain-text ``documents(doc_id, text, lang)`` in
  the shape of the TPC-H-style ``documents`` table the engine's queries
  use (31-word vocabulary, 10-100 tokens), with planted near-duplicates
  so the dedup chains have a real near-dup graph to find.
* :func:`embeddings` -- ``embeddings(vec_id, embedding, label)``: 64-dim
  unit vectors around 10 seeded cluster centers.
* :func:`web_pages` -- 20-90 KB web pages (link-only nav sidebar, prose
  blocks, script/style/svg, img, nested span) as span documents.
* :func:`boilerplate_pages` -- ``pages(doc_id, html)`` drawn mostly from a
  small pool of nav/footer/template fragments.
* :func:`salt_text` / :func:`soak_documents` / :func:`soak_embeddings`
  -- token-salted replica scale-up (doc_id' = doc_id*replicate + rep;
  every token of replica rep > 0 gets a ``\\x01rep`` suffix).
"""

from __future__ import annotations

import random

VOCAB = (
    "a the spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data "
    "vector customer join batch part"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


def _span_type():
    import pyarrow as pa

    return pa.list_(
        pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )
    )


# --- plain-text documents + embeddings ---------------------------------------


def documents(seed: int, n: int = 5000, id_offset: int = 0) -> list[dict]:
    """Plain-text documents; ~12% are near-copies (0-2 token edits) of an
    earlier document and ~0.2% exact copies."""
    rng = random.Random(f"documents:{seed}")
    toks_by_doc: list[list[str]] = []
    rows = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.002:
            toks = list(toks_by_doc[rng.randrange(i)])
        elif i and r < 0.12:
            toks = list(toks_by_doc[rng.randrange(i)])
            for _ in range(rng.randrange(3)):
                toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        else:
            toks = rng.choices(VOCAB, k=rng.randint(10, 100))
        toks_by_doc.append(toks)
        rows.append(
            {
                "doc_id": id_offset + i,
                "text": " ".join(toks),
                "lang": LANGS[rng.randrange(len(LANGS))],
            }
        )
    return rows


def embeddings(seed: int, n: int = 2000, dim: int = 64, k: int = 10) -> list[dict]:
    rng = random.Random(f"embeddings:{seed}")

    def unit(v):
        s = sum(x * x for x in v) ** 0.5
        return [x / s for x in v]

    centers = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(k)]
    rows = []
    for i in range(n):
        label = rng.randrange(k)
        v = unit([c + rng.gauss(0, 0.12) for c in centers[label]])
        rows.append({"vec_id": i, "embedding": v, "label": label})
    return rows


def salt_text(text: str, rep: int) -> str:
    """Token salting of replica ``rep`` (identity for rep 0)."""
    if rep == 0:
        return text
    salt = f"\x01{rep}"
    return " ".join(t + salt for t in text.split(" "))


def soak_documents(docs, replicate: int, n_parts: int):
    """Spark-side token-salted scale-up of a (doc_id, text) frame: each
    replica family mirrors the original near-dup graph, while tokens of
    different families never match."""
    from pyspark.sql import functions as F

    reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep")
    d = docs.select("doc_id", "text", reps)
    salt = F.concat(F.lit("\x01"), F.col("_rep").cast("string"))
    salted = F.when(F.col("_rep") == 0, F.col("text")).otherwise(
        F.concat_ws(
            " ",
            F.transform(F.split(F.col("text"), " "), lambda t: F.concat(t, salt)),
        )
    )
    return d.select(
        (F.col("doc_id") * replicate + F.col("_rep")).alias("doc_id"),
        salted.alias("text"),
    ).repartition(n_parts)


def soak_embeddings(emb, replicate: int, n_parts: int):
    """vec_id-remapped scale-up; the vectors themselves are reused."""
    from pyspark.sql import functions as F

    reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_rep")
    return (
        emb.select("vec_id", "embedding", "label", reps)
        .select(
            (F.col("vec_id") * replicate + F.col("_rep")).alias("vec_id"),
            "embedding",
            "label",
        )
        .repartition(n_parts)
    )


# --- web pages ----------------------------------------------------------------


def _sentences(rng: random.Random, n: int) -> list[str]:
    out = []
    for _ in range(n):
        words = rng.choices(VOCAB, k=rng.randint(6, 18))
        words[0] = words[0].capitalize()
        out.append(" ".join(words) + rng.choice((".", ".", "!", "?", " &amp; more.")))
    return out


def _prose_block(rng, sentences, page: int, k: int) -> str:
    parts = []
    for s in rng.sample(sentences, rng.randint(3, 8)):
        roll = rng.random()
        if roll < 0.15:
            s = f'{s} <a href="/doc/{page}/{k}?ref=p&amp;x=1">see {k}</a>'
        elif roll < 0.3:
            s = f"<b>{s}</b>"
        elif roll < 0.4:
            s = f'<em class="hl">{s}</em>'
        parts.append(s)
    return f'<p data-k="{k}">' + " ".join(parts) + "</p>\n"


def _page(rng, sentences, page: int, target: int) -> str:
    title = " ".join(rng.choices(VOCAB, k=5))
    nav = "".join(
        f'<li><a href="/section/{j}" title="s{j}">{rng.choice(VOCAB)} {j}</a></li>'
        for j in range(rng.randint(20, 60))
    )
    head = (
        "<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>Page {page}: {title}</title>"
        f'<meta name="description" content="{title} page {page}">'
        '<meta name="keywords" content="spark,html">'
        "<style>body{margin:0;font:14px sans-serif}.hl{color:#c00}"
        "nav li>a{display:block}</style>"
        f"<script>var pid={page};if(pid<0&&pid>1){{document.write('<b>x</b>')}}"
        "</script></head>\n<body>"
        f'<nav class="sidebar"><ul>{nav}</ul></nav>\n<div id="main">'
        f"<h1>{title}</h1>\n"
    )
    body = [head]
    size = len(head)
    k = 0
    while size < target:
        roll = rng.random()
        if roll < 0.70:
            chunk = _prose_block(rng, sentences, page, k)
        elif roll < 0.78:
            chunk = (
                f'<div class="fig"><img src="/img/{page}-{k}.png" '
                f'alt="figure {k}" width="640" height="480"></div>\n'
            )
        elif roll < 0.88:
            chunk = (
                f'<span class="n{k % 3}"><span><span><i>'
                f"{rng.choice(sentences)}</i></span></span></span>\n"
            )
        elif roll < 0.94:
            chunk = (
                f'<svg width="24" height="24" viewBox="0 0 24 24">'
                f'<path d="M{k % 24} 0L24 {k % 24}Z"/></svg>\n'
            )
        else:
            chunk = (
                f"<script>window.k{k}={k};for(var i=0;i<{k};i++)"
                "{console.log(i)}</script>\n"
            )
        body.append(chunk)
        size += len(chunk)
        k += 1
    body.append(
        '</div>\n<footer><p>&copy; example <a href="/about">about</a> '
        '<a href="/contact">contact</a></p></footer></body></html>\n'
    )
    return "".join(body)


def web_pages(seed: int, n: int) -> list[dict]:
    """Span documents: one 20-90 KB page text span plus a media span.
    Sizes are stratified (one draw per 1/n of the range, shuffled), so
    the total volume barely moves with the seed."""
    rng = random.Random(f"web_pages:{seed}")
    sentences = _sentences(rng, 600)
    sizes = [20_000 + int(70_000 * (i + rng.random()) / n) for i in range(n)]
    rng.shuffle(sizes)
    rows = []
    for i in range(n):
        html = _page(rng, sentences, i, sizes[i])
        rows.append(
            {
                "doc_id": f"p{seed}-{i:06d}",
                "spans": [
                    {"kind": "text", "text": html, "media_ref": None, "offset": 0},
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": f"media://p{i}/hero",
                        "offset": 1,
                    },
                ],
            }
        )
    return rows


def _fragment(rng, sentences, j: int) -> str:
    """Fragment ``j`` of the pool; its shape and size depend on ``j``
    only, its words on the seed, so the pool's volume is seed-stable."""
    kind = j % 4
    if kind == 0:
        links = "".join(
            f'<li><a href="/nav/{j}/{m}">{rng.choice(VOCAB)}</a></li>'
            for m in range(8 + (7 * j) % 23)
        )
        return f'<nav id="nav{j}"><ul class="menu">{links}</ul></nav>'
    if kind == 1:
        return (
            f'<footer class="f{j}"><p>{sentences[j]}</p>'
            f'<p>&copy; 2026 <a href="/legal/{j}">legal</a> | '
            f'<a href="javascript:void(0)" onclick="x()">top</a></p></footer>'
        )
    if kind == 2:
        k = 2 + j % 11
        return (
            f'<header><img src="/logo{j}.png" alt="logo"><script>var t{j}=1;'
            f"</script><h2>{sentences[j]}</h2>"
            + "".join(f"<p>{s}</p>" for s in sentences[j + 1:j + 1 + k])
            + "</header>"
        )
    return (
        f'<div class="cookie" style="position:fixed"><b>Cookies</b> '
        f"{sentences[j]} <button>ok</button><iframe src=\"/c{j}\">"
        "</iframe></div>"
    )


def boilerplate_pages(seed: int, n: int, pool_size: int = 48,
                      unique_frac: float = 0.2) -> list[dict]:
    """pages(doc_id, html): ~80% of rows repeat one of ``pool_size``
    fragments, the rest are unique content blocks."""
    rng = random.Random(f"boilerplate:{seed}")
    sentences = _sentences(rng, 300)
    pool = [_fragment(rng, sentences, j) for j in range(pool_size)]
    rows = []
    for i in range(n):
        if rng.random() < unique_frac:
            html = "".join(
                _prose_block(rng, sentences, i, k) for k in range(rng.randint(1, 4))
            )
        else:
            html = pool[rng.randrange(pool_size)]
        rows.append({"doc_id": i, "html": html})
    return rows


# --- parquet writers -------------------------------------------------------------


def write_parquet(rows: list[dict], path: str, kind: str, n_files: int = 1) -> None:
    """Write ``rows`` to ``path`` (a directory of ``n_files`` parquet
    files) with the schema for ``kind``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schemas = {
        "documents": pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string())]
        ),
        "embeddings": pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
        "spans": pa.schema([("doc_id", pa.string()), ("spans", _span_type())]),
        "pages": pa.schema([("doc_id", pa.int64()), ("html", pa.string())]),
    }
    schema = schemas[kind]
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * step:(f + 1) * step]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:04d}.parquet"))
