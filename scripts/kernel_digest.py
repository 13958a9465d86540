"""Spark-free output digest of the extraction and link kernels.

Renders synthetic pages 0..N-1 and prints a sha256 over the
``pipeline._extract_one`` rows (``elapsed_us`` removed, keys sorted) and
one over the ``links_of`` rows of the same pages, plus a status count.
Run it at two commits to check that a kernel refactor leaves every output
byte unchanged:

    python scripts/kernel_digest.py --filler 30 --pages 300
    python scripts/kernel_digest.py --filler 0 --pages 1200
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from html_parser_spark.extract.links import _page_links  # noqa: E402
from html_parser_spark.job.pipeline import _extract_one  # noqa: E402
from html_parser_spark.sources import synth  # noqa: E402


def _dump(obj) -> bytes:
    return json.dumps(obj, sort_keys=True, ensure_ascii=False,
                      default=str).encode() + b"\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--filler", type=int, default=0)
    ap.add_argument("--pages", type=int, default=300)
    args = ap.parse_args()
    extract, links = hashlib.sha256(), hashlib.sha256()
    status: Counter = Counter()
    for idx in range(args.pages):
        url = synth.url_for(idx)
        raw = synth.render_page(idx, filler=args.filler)
        row = _extract_one(url, raw)
        del row["elapsed_us"]
        status[row["status"]] += 1
        extract.update(_dump([url, row]))
        links.update(_dump([url, _page_links(raw)]))
    print(f"extract_one {extract.hexdigest()}")
    print(f"links_of    {links.hexdigest()}")
    print("status", json.dumps(dict(sorted(status.items()))))


if __name__ == "__main__":
    main()
