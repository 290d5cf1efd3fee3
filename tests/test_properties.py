"""Property-based tests (hypothesis): robustness and security invariants
the golden corpus can't enumerate."""

from hypothesis import given, settings
from hypothesis import strategies as st

from selma_spark import sanitizer as S
from selma_spark.rewriter import Rewriter
from selma_spark.tags import ESCAPEWORTHY_TAGS
from selma_spark.tokenizer import START_TAG, tokenize

# text without surrogates (not valid in interchange)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)

_fragments = st.lists(
    st.sampled_from([
        "<div>", "</div>", "<b class='x'>", "</b>", "text ",
        '<img src="http://a/b">', "<script>alert(1)</script>", "<",
        ">", "<iframe>", "</iframe>", "<!-- c -->", "<!DOCTYPE html>",
        "<br/>", "<style>.a{}</style>", "&amp;", "<title>t</title>",
        "<foo bar>", "</foo>", "1 < 2", "<p id=a>", "</p>",
        '<a href=" javascript:x">', "<plaintext>", "<xmp>y</xmp>",
        "<span>", "</span>", "<b ", 'attr="v">', "<meta charset='x'>",
        "</>", "</ x>", "<?pi?>", "<![CDATA[q]]>", "é中文",
    ]),
    max_size=20,
).map("".join)


@given(_text)
@settings(max_examples=300, deadline=None)
def test_never_crashes_on_arbitrary_text(s):
    for cfg in (S.DEFAULT, S.RELAXED):
        out = Rewriter(sanitizer=cfg).rewrite(s)
        assert isinstance(out, str)


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_escapeworthy_elements_never_survive_default(html):
    """The GHSA-class invariant: under DEFAULT no escapeworthy element
    token exists in the output, no matter how malformed the input
    (including tags materialized by stray-'<' text merging)."""
    out = Rewriter(sanitizer=S.DEFAULT).rewrite(html)
    for tok in tokenize(out):
        if tok.kind == START_TAG:
            assert tok.name not in ESCAPEWORTHY_TAGS, (html, out)


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_disallowed_script_never_survives_relaxed(html):
    out = Rewriter(sanitizer=S.RELAXED).rewrite(html)
    for tok in tokenize(out):
        if tok.kind == START_TAG:
            # RELAXED allows style/title; script and iframe-of-doom do
            # not get through
            assert tok.name not in ("script", "plaintext", "xmp",
                                    "noembed", "noframes"), (html, out)


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_tokenizer_is_lossless_modulo_dropped_constructs(html):
    """Raw slices must reassemble the input exactly, except for tokenizer-
    dropped constructs: incomplete tags at EOF, '</>', and lone '<' at
    EOF. We verify the reassembly is a prefix + the dropped tail."""
    toks = tokenize(html)
    # token ranges are in order and non-overlapping; every GAP between
    # consecutive tokens (and any dropped tail) is a dropped construct,
    # which always begins with '<' ("</>" or an incomplete tag at EOF)
    pos = 0
    for t in toks:
        assert t.start >= pos, (html, t)
        gap = html[pos:t.start]
        assert gap == "" or gap.startswith("<"), (html, gap)
        assert t.raw == html[t.start:t.end]
        pos = t.end
    tail = html[pos:]
    assert tail == "" or tail.startswith("<"), (html, tail)


@given(_fragments)
@settings(max_examples=150, deadline=None)
def test_sanitize_only_fast_path_equals_general_vm(html):
    """The two paths of the one interpreter: with no handlers every start
    tag takes the light (memoized sanitize) branch; a universal handler
    sends every tag through the full _Node path. Byte-identical output."""
    for cfg in (S.DEFAULT, S.BASIC, S.RELAXED):
        light = Rewriter(sanitizer=cfg).rewrite(html)
        full = Rewriter(sanitizer=cfg, handlers=[_Universal()]).rewrite(html)
        assert light == full, (html, light, full)


_attr_soup = st.lists(
    st.sampled_from([
        "<a", " x", " x=", " x= ", ' x="v"', " x='v'", " x=v", ' x="v',
        " x=\t", " y=2", " /", "  ", ">", "/>", " >", " />", "text",
        "<b x=1 y=2>", "</b>", "='q'", '"', "'",
    ]),
    max_size=12,
).map("".join)


@given(_attr_soup)
@settings(max_examples=500, deadline=None)
def test_batch_attr_path_agrees_with_span_path(html):
    """The C-level findall attribute extraction (need_spans=False) and
    the eager span-tracking scanner (need_spans=True) must produce
    identical token streams on ANY input — this differential caught the
    ws-after-equals fast-path divergence."""
    def sig(toks):
        return [
            (t.kind, t.start, t.end, t.name, t.self_closing,
             [(a.name, a.raw_name, a.value, a.has_value)
              for a in (t.attrs or [])])
            for t in toks
        ]

    assert sig(tokenize(html)) == sig(tokenize(html, need_spans=True))


class _NeverMatches:
    """A non-mutating handler whose selector never matches; its ``q``
    prefilter keeps every other start tag on the light branch."""

    def selector(self):
        from selma_spark.selector import Selector

        return Selector(match_element="q.__nope__")

    def handle_element(self, element):  # pragma: no cover
        raise AssertionError("selector must never match")


class _Universal:
    """A no-op universal element handler: its required_tags is None, so
    its PRESENCE disables the light fast-skip dispatch without changing
    any output — the differential switch between the light branch and
    the full _Node path."""

    def selector(self):
        from selma_spark.selector import Selector

        return Selector(match_element="*")

    def handle_element(self, element):
        pass


# one Rewriter per config for the whole run: its light-tag memo carries
# outcomes across examples, so cross-document memo hits are compared too
_WARM = {}


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_sanitize_fast_path_equals_handler_path(html):
    """Light branch (no handlers, warm cross-document memo) and full
    _Node path (universal handler, fresh Rewriter) implement the same
    sanitize semantics — outputs must be byte-identical on any input."""
    for cfg in (S.DEFAULT, S.RELAXED):
        warm = _WARM.setdefault(id(cfg), Rewriter(sanitizer=cfg))
        fast = warm.rewrite(html)
        slow = Rewriter(sanitizer=cfg, handlers=[_Universal()]).rewrite(html)
        assert fast == slow, (html, fast, slow)


def _mutating_handlers(log):
    from selma_spark.selector import Selector

    class BAttr:
        def selector(self):
            return Selector(match_element="b")

        def handle_element(self, el):
            el.set_attribute("data-x", "1")

    class DivText:
        def selector(self):
            return Selector(match_text_within="div",
                            ignore_text_within=["xmp"])

        def handle_text_chunk(self, chunk):
            log.append(chunk.content)

    class PEnd:
        def selector(self):
            return Selector(match_element="p")

        def handle_element(self, el):
            pass

        def on_end_tag(self, end):
            log.append(f"</{end.tag_name}>")

    return [BAttr(), DivText(), PEnd()]


@given(_fragments)
@settings(max_examples=300, deadline=None)
def test_fast_skip_dispatch_is_invisible(html):
    """Start tags outside the handlers' required-tag union take the light
    fast-skip branch, with or without a sanitizer. Adding a no-op
    universal handler disables that branch entirely; output AND handler
    side effects must be byte-identical either way on ANY input."""
    for cfg in (None, S.DEFAULT, S.RELAXED):
        log_fast, log_slow = [], []
        fast = Rewriter(
            sanitizer=cfg, handlers=_mutating_handlers(log_fast)
        ).rewrite(html)
        slow = Rewriter(
            sanitizer=cfg,
            handlers=_mutating_handlers(log_slow) + [_Universal()],
        ).rewrite(html)
        assert fast == slow, (cfg, html, fast, slow)
        assert log_fast == log_slow, (cfg, html, log_fast, log_slow)


def test_orphan_end_tag_flood_is_linear():
    """Adversarial input: a deep open stack followed by a flood of
    UNMATCHED end tags. Each orphan must be rejected O(1) via the
    open-name counts (a per-orphan stack scan is quadratic). Guarded
    RELATIVELY against a matched-tags baseline of the same token count —
    an absolute wall-clock bound flakes under this VM's ±2x scheduling
    noise (ADVICE r2) — with a generous 8x band: the quadratic failure
    mode is ~1000x, not single-digit."""
    import time

    from selma_spark import sanitizer as S
    from selma_spark.rewriter import Rewriter

    orphan = "<b>" * 20000 + "</i>" * 20000
    matched = "<b>" * 20000 + "</b>" * 20000
    for cfg, handlers in (
        (S.RELAXED, []),
        (S.RELAXED, [_Universal()]),  # full-node end-tag path
        (None, [_NeverMatches()]),
    ):
        r = Rewriter(sanitizer=cfg, handlers=handlers)
        t0 = time.perf_counter()
        r.rewrite(matched)
        baseline = time.perf_counter() - t0
        t0 = time.perf_counter()
        out = r.rewrite(orphan)
        orphan_t = time.perf_counter() - t0
        assert orphan_t < max(8 * baseline, 0.5), (orphan_t, baseline)
        # orphan end tags still pass through verbatim where allowed
        if cfg is None:
            assert out.count("</i>") == 20000


def test_dropped_empty_end_tag_never_resurrects():
    """'</>' is dropped by the tokenizer; the handler path's text
    coalescing must not slice across the gap and re-emit it (caught by
    the 50k-case differential fuzz)."""
    import selma_spark.rewriter as R
    from selma_spark.sanitizer import Sanitizer

    universal = [R._CompiledHandler(_Universal())]
    for html in ('a</>b', 'x</></>y', '1 < 2</>tail', "<b>t</>u</b>"):
        for cfg in (S.DEFAULT, S.RELAXED):
            san = Sanitizer(cfg)
            light = R._run_pass(html, san, [])
            assert light == R._run_pass(html, san, universal)
            assert "</>" not in light


_ANCESTOR_CSS = ("div[onclick] b", "a[href] b")

_ancestor_fragments = st.lists(
    st.sampled_from([
        "<div onclick='x'>", '<div onclick="1" id=q>', "<div>", "</div>",
        '<a href="javascript:alert(1)">', '<a href="https://ok/">',
        "<a href=' javascript:y'>", "<a>", "</a>", "<b>", "</b>",
        "<b class=k>", "<p>", "</p>", "<span title=t>", "</span>",
        "<script>s</script>", "<iframe src=x>", "</iframe>",
        "<div onclick=1 <!--x>", "<br>", "text ", "<",
    ]),
    max_size=16,
).map("".join)


def _ancestor_attr_run(cfg, html, universal):
    from selma_spark.selector import Selector

    log = []

    class Mark:
        def __init__(self, css):
            self.css = css

        def selector(self):
            return Selector(match_element=self.css)

        def handle_element(self, el):
            log.append((self.css, el.tag_name, tuple(el.ancestors)))
            el.set_attribute("data-m", str(len(log)))

    handlers = [Mark(css) for css in _ANCESTOR_CSS]
    if universal:
        handlers.append(_Universal())
    return Rewriter(sanitizer=cfg, handlers=handlers).rewrite(html), log


def _assert_ancestor_attrs_agree(html):
    for cfg in (S.DEFAULT, S.RELAXED):
        light = _ancestor_attr_run(cfg, html, universal=False)
        full = _ancestor_attr_run(cfg, html, universal=True)
        assert light == full, (html, light, full)


@given(_ancestor_fragments)
@settings(max_examples=300, deadline=None)
def test_light_ancestors_expose_sanitized_attrs(html):
    """Descendant selectors read the attributes of light stack entries
    (tags no handler matches). Those must be the POST-sanitize attrs the
    full _Node path shows: same output and handler log with and without
    a universal handler."""
    _assert_ancestor_attrs_agree(html)


def test_light_ancestors_expose_sanitized_attrs_fixed():
    for html in (
        "<div onclick='x'><b>t</b></div>",
        '<a href="javascript:alert(1)"><b>t</b></a>',
        '<a href="https://ok/"><p><b>t</b></p></a>',
        "<div onclick=1 <!--x><b>t</b></div>",
        "<div onclick=1><span title=t><b>u</b></span></div><b>v</b>",
    ):
        _assert_ancestor_attrs_agree(html)
    # RELAXED keeps div/a/b but strips onclick and the javascript: href,
    # so only the https link's <b> may match (DEFAULT unwraps div/a/b,
    # and an unwrapped element keeps its raw attrs on both paths)
    out, log = _ancestor_attr_run(
        S.RELAXED,
        "<div onclick='x'><b>t</b></div><a href='javascript:y'><b>u</b></a>"
        "<a href='https://ok/'><b>v</b></a>",
        universal=False,
    )
    assert log == [("a[href] b", "b", ("a",))], log
    assert out.count("data-m") == 1, out


def test_repeated_tags_get_private_sanitized_state():
    """The sanitize outcome of a start tag is memoized on its raw slice
    and replayed onto every full _Node with that slice. Handlers mutate
    the node's attrs and parts, so each node needs its own copies: a
    shared list would carry one element's edits into the next."""
    from selma_spark.selector import Selector

    class Mark:
        def selector(self):
            return Selector(match_element="div, p")

        def handle_element(self, el):
            el.before("[", as_="text")
            cls = el["class"]
            if cls is not None:
                el["class"] = cls + " y"

    html = ('<div class=c>a</div><div class=c>b</div>'
            '<p class="c">1</p><p class="c">2</p>')
    expected = {
        id(S.DEFAULT): " [a  [b  [1  [2 ",
        id(S.RELAXED): '[<div class="c y">a</div>[<div class="c y">b</div>'
                       '[<p class="c y">1</p>[<p class="c y">2</p>',
    }
    for cfg in (S.DEFAULT, S.RELAXED):
        rw = Rewriter(sanitizer=cfg, handlers=[Mark()])
        for _ in range(2):  # second call: every tag is a memo hit
            assert rw.rewrite(html) == expected[id(cfg)]


def test_sanitize_memo_is_bounded_within_a_pass(monkeypatch):
    """The start-tag memo is capped on insert, so one document of
    all-distinct tags cannot grow it past the cap; clearing it mid-pass
    must not disturb the open elements already on the stack."""
    import selma_spark.rewriter as R

    monkeypatch.setattr(R, "_SAN_MEMO_CAP", 8)
    html = "".join(f"<div title=t{i}><a href='/p{i}' onclick=x>" for i in range(40))
    html += "text" + "</a></div>" * 40
    for cfg in (S.DEFAULT, S.RELAXED):
        rw = Rewriter(sanitizer=cfg)
        out = rw.rewrite(html)
        assert len(rw._san_memo) <= 8
        full = Rewriter(sanitizer=cfg, handlers=[_Universal()]).rewrite(html)
        assert out == full, (out, full)


@given(st.data())
@settings(max_examples=200, deadline=None)
def test_text_within_scoping_matches_independent_model(data):
    """Differential guard for the incremental text-active bookkeeping
    (tactive counts maintained on push/pop): on WELL-FORMED nesting the
    set of dispatched text chunks must equal a trivially-correct
    independent model (text is dispatched iff some open ancestor is a
    <div> and no open ancestor is a <b>). Exercises deep nesting,
    interleaved scopes, and repeated open/close of the matching tag."""
    from selma_spark.selector import Selector

    tags = ("div", "b", "i", "span", "p", "section")
    parts = []
    model_stack = []
    expected = []
    counter = [0]
    # adjacent text emissions coalesce into ONE chunk in the rewriter
    # (same open stack, so same scope decision) — mirror that here
    last = [None]  # None | True (last part was in-scope text) | False

    def emit_text():
        counter[0] += 1
        s = f"t{counter[0]} "
        in_scope = any(t == "div" for t in model_stack) and not any(
            t == "b" for t in model_stack
        )
        if last[0] is None:
            parts.append(s)
            if in_scope:
                expected.append(s)
        else:
            parts[-1] += s
            if in_scope:  # same stack as the previous text => same scope
                expected[-1] += s
        last[0] = in_scope

    def open_tag(tag):
        parts.append(f"<{tag}>")
        model_stack.append(tag)
        last[0] = None

    def close_tag(tag):
        model_stack.pop()
        parts.append(f"</{tag}>")
        last[0] = None

    def gen(depth):
        for _ in range(data.draw(st.integers(0, 3))):
            if data.draw(st.booleans()):
                emit_text()
            if depth < 5 and data.draw(st.booleans()):
                tag = data.draw(st.sampled_from(tags))
                open_tag(tag)
                gen(depth + 1)
                close_tag(tag)
                if data.draw(st.booleans()):
                    emit_text()

    gen(0)
    html = "".join(parts)

    class Collector:
        SELECTOR = Selector(
            match_element=None,
            match_text_within="div",
            ignore_text_within=("b",),
        )

        def __init__(self):
            self.chunks = []

        def selector(self):
            return self.SELECTOR

        def handle_text_chunk(self, chunk):
            self.chunks.append(chunk.to_s())

    col = Collector()
    Rewriter(sanitizer=None, handlers=[col]).rewrite(html)
    assert col.chunks == expected, (html, col.chunks, expected)


@given(_fragments)
@settings(max_examples=400, deadline=None)
def test_hot_lexer_agrees_with_cold_dispatch(html):
    """r5 hot-path lexer differential: the combined text+tag regex
    (tokenizer._HOT) must produce token streams identical to the cold
    find/branch/match dispatch — kinds, boundaries, names, self_closing,
    text types, AND extracted attrs — in both batch and light modes
    (120k-case bulk fuzz ran clean at introduction; this pins it in CI)."""
    from selma_spark import tokenizer as tk

    class _NoHot:
        @staticmethod
        def match(s, i):
            return None

    real = tk._HOT
    try:
        tk._HOT = real
        hot_b, hot_l = tk.tokenize(html), tk.tokenize(html, light=True)
        tk._HOT = _NoHot
        cold_b, cold_l = tk.tokenize(html), tk.tokenize(html, light=True)
    finally:
        tk._HOT = real
    for x, y in ((hot_b, cold_b), (hot_l, cold_l)):
        assert len(x) == len(y), (html, len(x), len(y))
        for t1, t2 in zip(x, y):
            assert (
                t1.kind, t1.start, t1.end, t1.name,
                t1.self_closing, t1.text_type,
            ) == (
                t2.kind, t2.start, t2.end, t2.name,
                t2.self_closing, t2.text_type,
            ), (html, t1, t2)
            a1 = [(a.name, a.raw_name, a.value, a.has_value)
                  for a in (t1.attrs or [])]
            a2 = [(a.name, a.raw_name, a.value, a.has_value)
                  for a in (t2.attrs or [])]
            assert a1 == a2, (html, a1, a2)


@given(_fragments)
@settings(max_examples=200, deadline=None)
def test_chunked_tokenize_matches_one_shot(s):
    """r6: tokenize(limit=...) resumability — driving the lexer in
    small chunks from the returned resume positions must reproduce the
    one-shot token stream byte-for-byte (kinds, spans, names). This is
    what the lazy CDATA-repair re-lex relies on."""
    full = tokenize(s)
    chunked = []
    pos = 0
    n = len(s)
    while pos < n:
        toks, pos = tokenize(s, start=pos, limit=2)
        chunked.extend(toks)
        if not toks and pos < n:
            raise AssertionError("no progress")
    assert len(chunked) == len(full)
    for a, b in zip(chunked, full):
        assert (a.kind, a.start, a.end, a.name, a.self_closing,
                a.text_type) == (b.kind, b.start, b.end, b.name,
                                 b.self_closing, b.text_type)
