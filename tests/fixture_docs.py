"""Deterministic large-document fixtures for the extraction tests.

Each builder returns the same HTML string on every call. The documents
rebuild the shapes that FIXTURES.md section 6 describes, so the tests
need no checkout outside the repo:

- ``docs_page()``: a ~29 KB documentation page with doctype, head
  metadata, a link-only nav sidebar, prose, code samples, an inline
  svg, a search form and scripts;
- ``deleting_content_page()``: a ~50 KB page where most of the bytes
  sit in ``<pre>`` blocks and comments, for heavy-deletion stability;
- ``document_sm()``: a ~25 KB article with a link-only nav sidebar and
  many prose blocks about Nokogiri.
"""

import random

_WORDS = (
    "parser document node element attribute selector stream buffer "
    "encoding markup namespace fragment serializer traversal whitespace "
    "entity tokenizer schema validation query result library method "
    "option value config install version release build gem native "
    "extension memory performance benchmark tree child sibling parent"
).split()

SIDEBAR_LINKS = (
    "Installation", "Getting Started", "Parsing HTML", "Parsing XML",
    "Searching", "Modifying", "Namespaces", "Encoding", "SAX Parser",
    "Reader", "Builder", "Schema Validation", "XSLT", "CSS Selectors",
    "XPath", "Troubleshooting", "Changelog", "Contributing",
)


def _sentence(rng: random.Random, subject: str) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(10, 18))]
    return f"{subject} {' '.join(words)}."


def _paragraph(rng: random.Random, subject: str, n: int) -> str:
    return " ".join(_sentence(rng, subject) for _ in range(n))


def _sidebar(prefix: str) -> str:
    items = "".join(
        f'<li><a href="{prefix}/{name.lower().replace(" ", "-")}/">{name}</a></li>'
        for name in SIDEBAR_LINKS
    )
    return f'<nav class="sidebar"><ul>{items}</ul></nav>'


def docs_page() -> str:
    """~29 KB docs page: the ContentExtractor end-to-end input."""
    rng = random.Random(1)
    parts = [
        "<!DOCTYPE html><html lang=\"en\"><head>",
        '<meta charset="utf-8">',
        "<title>Getting Started | Astro Docs</title>",
        '<meta name="description" content="Guides, resources and API '
        'references to help you build with Astro.">',
        '<meta name="viewport" content="width=device-width">',
        "<style>body{margin:0}.sidebar{width:16rem}</style>",
        '<script type="module">window.__theme = "dark";</script>',
        "</head><body>",
        '<header><form action="/search" role="search">'
        '<input name="q" placeholder="Search"><button>Go</button></form>'
        '<svg viewBox="0 0 16 16"><path d="M0 0h16v16H0z"/></svg></header>',
        _sidebar("/en"),
        "<main><article>",
    ]
    section = 0
    while sum(map(len, parts)) < 28_000:
        section += 1
        parts.append(f'<h2 id="s{section}">Section {section}</h2>')
        parts.append(f"<p>{_paragraph(rng, 'Astro', 3)}</p>")
        parts.append(
            f"<pre><code>npm create astro@latest -- --template s{section}"
            "</code></pre>"
        )
        parts.append(
            f"<p>{_paragraph(rng, 'The page', 2)} "
            f'See <a href="/en/s{section}/">the guide</a>.</p>'
        )
        parts.append(f"<noscript>Enable JavaScript for section {section}.</noscript>")
    parts.append("</article></main>")
    parts.append("<footer><p>Made with care by the Astro community.</p></footer>")
    parts.append("<script>console.log('loaded');</script></body></html>")
    return "".join(parts)


def deleting_content_page() -> str:
    """~50 KB page dominated by <pre> blocks: heavy-deletion stability."""
    rng = random.Random(2)
    parts = [
        "<!DOCTYPE html><html><head><title>Deleting content</title></head><body>",
        "<!-- generated page: most bytes are removed by the handler -->",
    ]
    i = 0
    while sum(map(len, parts)) < 49_000:
        i += 1
        code = "\n".join(
            f"  line_{i}_{j} = {rng.choice(_WORDS)}({rng.randint(0, 999)})"
            for j in range(rng.randint(6, 14))
        )
        parts.append(f"<pre><code>def block_{i}():\n{code}</code></pre>")
        parts.append(f"<!-- comment {i} -->")
        parts.append(
            f"<div><p>{_sentence(rng, 'Kept')} <em>{rng.choice(_WORDS)}</em> "
            f"&amp; <a href=\"#b{i}\">anchor {i}</a></p></div>"
        )
    parts.append("</body></html>")
    return "".join(parts)


def document_sm() -> str:
    """~25 KB article with a link-only sidebar and many prose blocks."""
    rng = random.Random(3)
    parts = [
        "<!DOCTYPE html><html><head><title>Nokogiri</title></head><body>",
        _sidebar("/tutorials"),
        '<div class="content">',
        "<h1>Nokogiri</h1>",
    ]
    while sum(map(len, parts)) < 24_500:
        parts.append(f"<p>{_paragraph(rng, 'Nokogiri', 2)}</p>")
        parts.append(
            f"<p>{_paragraph(rng, 'The parser', 2)} "
            '<a href="/tutorials/searching/">Read more</a>.</p>'
        )
    parts.append("</div>")
    parts.append(
        '<div class="footer"><a href="/">Home</a> <a href="/about/">About</a> '
        '<a href="/license/">License</a></div>'
    )
    parts.append("</body></html>")
    return "".join(parts)
