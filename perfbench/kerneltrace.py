"""Spark-free passes over the extraction kernel: the contention control and
the traced layer split.

The tracer wraps the kernel's public calls from the outside, by swapping
module attributes that ``pipeline._extract_one`` and ``links.links_of``
look up at call time, and restores them afterwards. Spans (name, start,
end, parent, page id) stay in memory until the run writes them out.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# Idle single-thread `_extract_one` rates (docs/s) on the control pages:
# medians of ten idle trials on the 4-CPU, 15 GiB host this benchmark was
# first run on (README.md lists them). A control that reads more than 20%
# off its reference marks the run as contended.
CONTROL_REF = {30: 233.0, 0: 1420.0}
CONTROL_BAND = 0.2
# Control pages: a fixed window, so every run's control reads the same input.
CONTROL_PAGES = {30: 60, 0: 250}


def control_rate(filler: int) -> float:
    """Median-of-3 single-thread rate over the fixed control pages, after
    one warm-up pass."""
    from html_parser_spark.job.pipeline import _extract_one
    from html_parser_spark.sources import synth
    pages = [(synth.url_for(i), synth.render_page(i, filler=filler))
             for i in range(CONTROL_PAGES[filler])]
    rates = []
    for k in range(4):
        t0 = time.perf_counter()
        for u, h in pages:
            _extract_one(u, h)
        if k:
            rates.append(len(pages) / (time.perf_counter() - t0))
    return statistics.median(rates)


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []   # (name, start, end, parent, page)
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self.page = -1

    def wrap(self, name: str, fn, root: bool = False, count=None):
        def traced(*a, **kw):
            if root:
                self.page += 1
            parent = self._stack[-1] if self._stack else -1
            idx = len(self.spans)
            self.spans.append(None)
            self._stack.append(idx)
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                t1 = time.perf_counter()
                self._stack.pop()
                self.spans[idx] = (name, t0, t1, parent, self.page)
            if count is not None:
                self.counts[name] = self.counts.get(name, 0) + count(out)
            return out
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        out: dict[str, float] = {}
        for name, t0, t1, parent, _page in self.spans:
            out[name] = out.get(name, 0.0) + (t1 - t0)
            if parent >= 0:
                pname = self.spans[parent][0]
                out[pname] = out.get(pname, 0.0) - (t1 - t0)
        return out

    def totals(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _p, _g in self.spans if n == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, page in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "page": page}) + "\n")


class _JsonShim:
    """Stands in for the ``json`` module inside ``job.pipeline`` so the
    envelope ``dumps`` is a span; everything else is the real module."""

    def __init__(self, dumps):
        self.dumps = dumps

    def __getattr__(self, name):
        return getattr(json, name)


@contextmanager
def _patched(tracer: Tracer):
    from html_parser_spark.extract import boilerplate, carriers, pdfkit
    from html_parser_spark.htmlkit import charset, tokenizer
    from html_parser_spark.job import pipeline
    from html_parser_spark.extract import links
    from html_parser_spark.rules import profiles
    targets = [
        (pipeline, "_extract_one", "pipeline._extract_one", True, None),
        (charset, "sniff_decode", "charset.sniff_decode", False, None),
        (tokenizer, "tokenize", "tokenizer.tokenize", False, len),
        (boilerplate, "text_and_scored", "boilerplate.text_and_scored",
         False, None),
        (boilerplate, "select_content", "boilerplate.select_content",
         False, None),
        (carriers, "collect_scripts", "carriers.collect_scripts", False, None),
        (profiles, "extract_page", "profiles.extract_page", False, None),
        (pdfkit, "extract_pdf_text", "pdfkit.extract_pdf_text", False, None),
        (links, "links_of", "links.links_of", False, len),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, *_ in targets]
    try:
        for mod, attr, name, root, count in targets:
            setattr(mod, attr, tracer.wrap(name, getattr(mod, attr),
                                           root=root, count=count))
        pipeline.json = _JsonShim(tracer.wrap("pipeline.envelope_json",
                                              json.dumps))
        yield
    finally:
        pipeline.json = json
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _kernel_pass(batches, wrap=lambda name, fn: fn) -> tuple[float, int, int]:
    """extract_batch_arrow over every batch; returns (seconds, rows,
    rows with an envelope)."""
    from html_parser_spark.job import pipeline

    def one_batch(b):
        return list(pipeline.extract_batch_arrow(iter([b])))

    kernel = wrap("pipeline.extract_batch_arrow", one_batch)
    t0 = time.perf_counter()
    rows = hits = 0
    for b in batches:
        for out in kernel(b):
            rows += out.num_rows
            hits += out.num_rows - out.column("envelope").null_count
    return time.perf_counter() - t0, rows, hits


def _links_pass(htmls: list, tracer: Tracer) -> None:
    """The links re-parse, per page: sniff + ``links_of`` (as
    ``extract_links`` runs it), one root span per page."""
    from html_parser_spark.extract import links
    from html_parser_spark.htmlkit import charset

    def one(payload):
        html, _enc = charset.sniff_decode(bytes(payload))
        return links.links_of(html)

    page = tracer.wrap("links.page", one, root=True)
    for html in htmls:
        page(html)


def layer_split(pages, rounds: int = 2) -> tuple[dict, list]:
    """Untraced and traced kernel passes over a pages table, alternated
    ``rounds`` times, then one traced links pass. Returns the per-layer
    metrics (µs per doc) and the tracers whose spans the run writes out."""
    batches = pages.to_batches(max_chunksize=256)
    n = pages.num_rows
    _kernel_pass(batches)              # warm: imports, regex caches
    plain, traced = [], []
    for _ in range(rounds):
        plain.append(_kernel_pass(batches)[0])
        tracer = Tracer()
        with _patched(tracer):
            secs, rows, hits = _kernel_pass(batches, tracer.wrap)
        traced.append(secs)
    links_tracer = Tracer()
    with _patched(links_tracer):
        _links_pass(pages.column("html").to_pylist(), links_tracer)

    self_s = tracer.self_times()
    us = {k: v * 1e6 / n for k, v in self_s.items()}
    base = statistics.median(plain)
    n_tok = sum(1 for s in tracer.spans if s[0] == "tokenizer.tokenize")
    metrics = {
        "charset.sniff_decode_us": us.get("charset.sniff_decode", 0.0),
        "tokenizer.tokenize_us": us.get("tokenizer.tokenize", 0.0),
        "tokenizer.nodes_per_doc":
            tracer.counts.get("tokenizer.tokenize", 0) / max(n_tok, 1),
        "boilerplate.text_and_scored_us":
            us.get("boilerplate.text_and_scored", 0.0),
        "boilerplate.select_content_us":
            us.get("boilerplate.select_content", 0.0),
        "carriers.collect_scripts_us": us.get("carriers.collect_scripts", 0.0),
        "profiles.extract_page_us": us.get("profiles.extract_page", 0.0),
        "profiles.rule_hit_ratio": hits / max(rows, 1),
        "pdfkit.extract_pdf_text_us": us.get("pdfkit.extract_pdf_text", 0.0),
        "pipeline.envelope_json_us": us.get("pipeline.envelope_json", 0.0),
        "pipeline.extract_one_self_us": us.get("pipeline._extract_one", 0.0),
        "pipeline.arrow_assembly_us":
            us.get("pipeline.extract_batch_arrow", 0.0),
        "links.links_of_us": links_tracer.totals("links.links_of") * 1e6 / n,
        "trace.kernel_us_per_doc": base * 1e6 / n,
        "trace.overhead_share": statistics.median(traced) / base - 1.0,
        "trace.self_sum_share": sum(self_s.values()) / base,
    }
    return metrics, [tracer, links_tracer]
