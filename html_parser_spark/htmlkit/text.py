"""Byte-exact plain-text extraction over a FlatDOM.

The reference scripts strip tags with ``soup.get_text()``
(1.samsclub/parse_samsclub.py:45-50, bedbathbeyond/parse_bedbathbeyond.py:87-89).
That function's whitespace
behavior is bs4-defined; since goldens here are produced by our own oracle
(SURVEY.md §5.2), we pin an explicit spec — **TEXT-SPEC v1** — implemented
twice: here over flat arrays (engine) and in ``tests/oracle.py`` over stdlib
``html.parser`` events (independent check).

TEXT-SPEC v1
============
1. Subtrees under ``script style template noscript iframe svg head`` and
   comment nodes contribute no text.
2. Text nodes accumulate into the current line buffer (entity-decoded).
3. Opening OR closing a *block* element (``BLOCK_TAGS``) or ``<br>``
   outside an excluded subtree terminates the current line: the buffer is
   concatenated, runs of whitespace collapsed to a single space, stripped;
   non-empty results are emitted as one line.
4. Output = lines joined with ``"\\n"``.

The same walk also yields BOILER-SPEC v1's scored lines
(``extract/boilerplate.py``), which end at every block or ``<br>``
boundary, including those inside excluded subtrees.
"""

from __future__ import annotations

import re

from .tokenizer import TEXT, FlatDOM

__all__ = ["extract_text", "text_and_scored", "BLOCK_TAGS", "EXCLUDED_TAGS",
           "BOILER_CONTAINERS"]

EXCLUDED_TAGS = frozenset(
    "script style template noscript iframe svg head".split()
)

BLOCK_TAGS = frozenset(
    """address article aside blockquote body caption dd details div dl dt
    fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr html
    li main menu nav ol optgroup option p pre section select table tbody td
    tfoot th thead tr ul""".split()
)

BOILER_CONTAINERS = frozenset("nav footer header aside form".split())

# tag -> (is_block, is_excluded, is_a, is_boiler_container); tags absent
# here never touch the walk's state, so they are not kept on its stack.
# No excluded tag is a block, so a boundary never opens or closes one.
_KIND = {t: (t in BLOCK_TAGS, int(t in EXCLUDED_TAGS), int(t == "a"),
             int(t in BOILER_CONTAINERS))
         for t in BLOCK_TAGS | EXCLUDED_TAGS | BOILER_CONTAINERS | {"a"}}

_WS_RE = re.compile(r"\s+")


def _collapse(line: str) -> str:
    # Collapse only when a whitespace run can exist: most content lines
    # carry single spaces only, and the C substring scans are ~free next
    # to the regex sub.
    if (not line.isascii() or "  " in line or "\n" in line or "\t" in line
            or "\r" in line or "\f" in line or "\v" in line):
        line = _WS_RE.sub(" ", line)
    return line.strip()


def text_and_scored(dom: FlatDOM) -> tuple[str, list[tuple[str, int, int, bool]]]:
    """One walk → (TEXT-SPEC v1 text, BOILER-SPEC v1 scored lines).

    Every block or ``<br>`` boundary ends a scored line
    ``(text, n_chars, n_link_chars, in_boiler_container)``. A boundary
    inside an excluded subtree is *soft*; all others are *hard*. A text
    line is the collapse of the raw segments between two hard boundaries
    (whitespace-only ones included), so a run of one segment reuses that
    segment's collapsed scored line."""
    depth = dom.depth
    lines: list[str] = []
    scored: list[tuple[str, int, int, bool]] = []
    buf: list[str] = []   # raw pieces of the current scored line
    run: list[str] = []   # raw segments ended by soft boundaries
    link = 0
    boiler = False
    stack: list[tuple[int, bool, int, int, int]] = []
    in_a = in_boiler = excluded = 0

    def boundary(hard: bool) -> None:
        nonlocal link, boiler
        raw = "".join(buf)
        buf.clear()
        line = _collapse(raw)
        if line:
            scored.append((line, len(line), min(link, len(line)), boiler))
        link = 0
        boiler = False
        if not hard:
            run.append(raw)
            return
        if run:
            run.append(raw)
            line = _collapse("".join(run))
            run.clear()
        if line:
            lines.append(line)

    # A depth-0 sentinel after the last node closes every open element.
    for d, t, x in zip(depth[1:] + [0], dom.tags[1:] + [""],
                       dom.texts[1:] + [None]):
        while stack and stack[-1][0] >= d:
            _, block, excl, a, box = stack.pop()
            in_a -= a
            in_boiler -= box
            excluded -= excl
            if block and (buf or run):
                boundary(not excluded)
        if t == TEXT:
            if not excluded:
                buf.append(x or "")
                if in_a or in_boiler:
                    x = _WS_RE.sub(" ", x or "").strip()
                    if in_a:
                        link += len(x)
                    if in_boiler and x:
                        boiler = True
        elif t == "br":
            if buf or run:
                boundary(not excluded)
        else:
            k = _KIND.get(t)
            if k is not None:
                block, excl, a, box = k
                if block and (buf or run):
                    boundary(not excluded)
                in_a += a
                in_boiler += box
                excluded += excl
                stack.append((d, block, excl, a, box))
    if buf or run:
        boundary(True)
    return "\n".join(lines), scored


def extract_text(dom: FlatDOM) -> str:
    """TEXT-SPEC v1 extraction over the flat node arrays."""
    return text_and_scored(dom)[0]
