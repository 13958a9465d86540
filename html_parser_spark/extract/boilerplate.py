"""Main-content extraction for pages with no site rule (north_star).

Boilerpipe/trafilatura-style scoring (Kohlschütter et al., WSDM 2010
"Boilerplate Detection using Shallow Text Features" — public method) over the
flat node arrays: segment the page into text *lines*, score each line by
text length and link-character density, and keep content-like lines. The
lines come from the one TEXT-SPEC walk, ``htmlkit.text.text_and_scored``.

BOILER-SPEC v1 (deterministic, pinned for goldens):
  * Scored lines use TEXT-SPEC v1's block segmentation, except that they
    also break at blocks and ``<br>`` inside excluded subtrees.
  * A line's link characters: each text piece under <a>, whitespace-
    collapsed and stripped, summed and capped at the line's length.
  * Lines with text inside nav/footer/header/aside/form subtrees are
    boilerplate.
  * A line is content iff link_density < 0.34 AND text length ≥ 25 chars,
    OR (length ≥ 8, zero link chars, and adjacent to a content line —
    "continuation" smoothing, applied forward then backward).
  * Output = content lines joined with "\\n".
"""

from __future__ import annotations

from ..htmlkit.text import text_and_scored
from ..htmlkit.tokenizer import FlatDOM

__all__ = ["score_lines", "main_text", "text_and_scored", "select_content"]

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.34
MIN_CONT_CHARS = 8


def score_lines(dom: FlatDOM) -> list[tuple[str, int, int, bool]]:
    """Lines → (text, n_chars, n_link_chars, in_boiler_container)."""
    return text_and_scored(dom)[1]


def select_content(lines: list[tuple[str, int, int, bool]]) -> str:
    """BOILER-SPEC v1 content selection over scored lines."""
    n = len(lines)
    keep = [not boiler and chars >= MIN_CONTENT_CHARS
            and link_chars / max(chars, 1) < MAX_LINK_DENSITY
            for _, chars, link_chars, boiler in lines]
    # Continuation smoothing: a short linkless line next to a kept line is
    # kept; the forward pass carries a kept run down, the backward pass up.
    cont = [not boiler and not link_chars and chars >= MIN_CONT_CHARS
            for _, chars, link_chars, boiler in lines]
    for i in range(1, n):
        if cont[i] and keep[i - 1]:
            keep[i] = True
    for i in range(n - 2, -1, -1):
        if cont[i] and keep[i + 1]:
            keep[i] = True
    return "\n".join(lines[i][0] for i in range(n) if keep[i])


def main_text(dom: FlatDOM) -> str:
    """BOILER-SPEC v1 content selection."""
    return select_content(score_lines(dom))
