"""Independent TEXT-SPEC v1 and BOILER-SPEC v1 oracles built on stdlib
``html.parser``.

Deliberately a *different* implementation from the engine's regex tokenizer
and its one line walk (html_parser_spark/htmlkit/text.py): the pipeline's
extracted text must match this byte-for-byte per url (BASELINE.json
input_hint), which catches tokenizer bugs the engine couldn't find by
agreeing with itself.

Tag-soup semantics mirrored from HTML5 (and pinned by fuzz in
tests/test_adversarial.py):
- textarea/title are RCDATA: their content is text (markup not parsed),
  entities decoded — stdlib's default CDATA set is only script/style, so
  both are added here and their data entity-decoded to match;
- an unmatched close tag is ignored (no line boundary), EXCEPT '</p>',
  which HTML5 turns into an empty paragraph (a block boundary);
- a matched close pops every element above it; popped blocks flush only
  when not inside an excluded subtree at pop time.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from html_parser_spark.htmlkit.text import (BLOCK_TAGS, BOILER_CONTAINERS,
                                           EXCLUDED_TAGS)
from html_parser_spark.htmlkit.tokenizer import VOID_ELEMENTS

_WS_RE = re.compile(r"\s+")

_RCDATA = ("textarea", "title")


class _TextOracle(HTMLParser):
    CDATA_CONTENT_ELEMENTS = ("script", "style") + _RCDATA

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.lines: list[str] = []
        self.buf: list[str] = []
        self.excl = 0
        self.stack: list[str] = []

    def _flush(self) -> None:
        if self.buf:
            line = _WS_RE.sub(" ", "".join(self.buf)).strip()
            del self.buf[:]
            if line:
                self.lines.append(line)

    def handle_starttag(self, tag, attrs):
        if tag == "br":
            if not self.excl:
                self._flush()
            return
        if tag in EXCLUDED_TAGS:
            self.excl += 1
        elif tag in BLOCK_TAGS and not self.excl:
            self._flush()
        if tag not in VOID_ELEMENTS:
            self.stack.append(tag)

    def handle_startendtag(self, tag, attrs):
        if tag == "br" or (tag in BLOCK_TAGS and not self.excl):
            if not self.excl:
                self._flush()

    def handle_endtag(self, tag):
        # Pop to the matching open (engine tokenizer semantics); an
        # unmatched close is ignored except the HTML5 '</p>' empty-
        # paragraph rule.
        for k in range(len(self.stack) - 1, -1, -1):
            if self.stack[k] == tag:
                popped = self.stack[k:]
                del self.stack[k:]
                for t in reversed(popped):   # top-down, like the engine
                    if t in EXCLUDED_TAGS:
                        if self.excl:
                            self.excl -= 1
                    elif t in BLOCK_TAGS and not self.excl:
                        self._flush()
                return
        if tag == "p" and not self.excl:
            self._flush()                    # empty paragraph boundary

    def handle_data(self, data):
        if not self.excl:
            if self.cdata_elem in _RCDATA:
                data = unescape(data)        # RCDATA decodes entities
            self.buf.append(data)


class _ScoredOracle(HTMLParser):
    """BOILER-SPEC v1 twin of ``_TextOracle``: every block or br start/end
    ends a scored line, stray '</p>' included, even inside excluded
    subtrees. Ancestry (excluded / under <a> / boilerplate container) is
    read off the open-tag stack."""
    CDATA_CONTENT_ELEMENTS = _TextOracle.CDATA_CONTENT_ELEMENTS

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.lines: list[tuple[str, int, int, bool]] = []
        self.buf: list[str] = []
        self.link = 0
        self.boiler = False
        self.stack: list[str] = []

    def _flush(self) -> None:
        line = _WS_RE.sub(" ", "".join(self.buf)).strip()
        if line:
            self.lines.append((line, len(line), min(self.link, len(line)),
                               self.boiler))
        self.buf, self.link, self.boiler = [], 0, False

    def handle_starttag(self, tag, attrs):
        self.handle_startendtag(tag, attrs)
        if tag not in VOID_ELEMENTS:
            self.stack.append(tag)

    def handle_startendtag(self, tag, attrs):
        if tag == "br" or tag in BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in self.stack:
            k = len(self.stack) - 1 - self.stack[::-1].index(tag)
            popped = self.stack[k:]
            del self.stack[k:]
            if any(t in BLOCK_TAGS for t in popped):
                self._flush()
        elif tag == "p":
            self._flush()                    # empty paragraph boundary

    def handle_data(self, data):
        if any(t in EXCLUDED_TAGS for t in self.stack):
            return
        if self.cdata_elem in _RCDATA:
            data = unescape(data)
        self.buf.append(data)
        piece = _WS_RE.sub(" ", data).strip()
        if "a" in self.stack:
            self.link += len(piece)
        if piece and any(t in BOILER_CONTAINERS for t in self.stack):
            self.boiler = True


def _run(parser: HTMLParser, html: str) -> HTMLParser:
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    parser._flush()
    return parser


def oracle_text(html: str) -> str:
    return "\n".join(_run(_TextOracle(), html).lines)


def oracle_scored(html: str) -> list[tuple[str, int, int, bool]]:
    return _run(_ScoredOracle(), html).lines
