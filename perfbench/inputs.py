"""Benchmark inputs, made from ``--seed`` and cached under the work dir.

Pages are pure functions of their index (``synth.page_record``), so a seed
selects an index window ``[base + slot*n, base + slot*n + n)``, where
``slot`` is the seed modulo ``run.SEED_SLOTS``. Every window
has the same profile mix (13 profiles, 2% PDF, 2% blocked pages) and
``synth.golden_envelope(idx)`` stays the expected output.

The query-suite tables are the ten tables ``__spark_entry__.queries()``
reads, in the sf0.001 shape of the repository's test tables (the directory is
named ``sf0.001`` because the engine sizes its synthetic page corpus from that
name). Their values are drawn from a seeded generator.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Equal-sized files: Spark packs them into one scan task per core, and the
# first quarter of them is the single-core leg's input.
CORPUS_FILES = 16

PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _render(filler: int, with_links: bool, chunks: list) -> int:
    """Write each (start, stop, path) chunk of pages to its parquet file;
    return the chunks' Spark-free outlink count if asked (``links_of``
    after the charset sniff, as ``extract_links`` parses)."""
    from html_parser_spark.extract.links import links_of
    from html_parser_spark.htmlkit.charset import sniff_decode
    from html_parser_spark.sources import synth
    n_links = 0
    for start, stop, path in chunks:
        recs = [synth.page_record(i, filler=filler) for i in range(start, stop)]
        pq.write_table(_table(recs), path)
        if with_links:
            n_links += sum(len(links_of(sniff_decode(r["html"])[0]))
                           for r in recs)
    return n_links


def _synth_tag() -> str:
    from html_parser_spark.sources import synth
    with open(synth.__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:8]


def _table(recs: list) -> pa.Table:
    return pa.table({
        "url": [r["url"] for r in recs],
        "warc_ts": [r["warc_ts"] for r in recs],
        "html": [r["html"] for r in recs],
        "text": [r["text"] for r in recs],
        "lang": [r["lang"] for r in recs],
    }, schema=PAGES_ARROW_SCHEMA)


class PageCorpus:
    """One workload's page window, rendered once into ``CORPUS_FILES``
    parquet files under ``path``.

    ``quarter`` lists the files of the window's first quarter (the
    single-core leg's input).
    """

    def __init__(self, work: str, name: str, start: int, n: int, filler: int,
                 cores: int, with_links: bool = False):
        self.start, self.n, self.filler = start, n, filler
        key = f"{name}-i{start}-n{n}-f{filler}-{_synth_tag()}"
        self.root = os.path.join(work, "inputs", key)
        self.path = os.path.join(self.root, "pages")
        step = -(-n // CORPUS_FILES)
        self.chunks = [(start + k, min(start + k + step, start + n))
                       for k in range(0, n, step)]
        self.files = [os.path.join(self.path, f"part-{k:03d}.parquet")
                      for k in range(len(self.chunks))]
        q = max(1, len(self.files) // 4)
        self.quarter = self.files[:q]
        self.n_quarter = self.chunks[q - 1][1] - start
        done = os.path.join(self.root, "_DONE")
        if not os.path.exists(done):
            self._build(cores, with_links, done)
        with open(done) as f:
            self.n_links = json.load(f)["n_links"]
        html = pq.ParquetDataset(self.path).read(["html"]).column("html")
        self.html_bytes = int(pc.sum(pc.binary_length(html)).as_py())

    def _build(self, cores: int, with_links: bool, done: str) -> None:
        """Render the chunks in ``cores`` child interpreters."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.path)
        chunks = [f"{lo}:{hi}:{path}"
                  for (lo, hi), path in zip(self.chunks, self.files)]
        procs = [subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(self.filler),
             str(int(with_links))] + chunks[k::cores],
            stdout=subprocess.PIPE, text=True) for k in range(cores)]
        n_links = 0
        try:
            for proc in procs:
                out, _ = proc.communicate()
                if proc.returncode:
                    raise RuntimeError(f"page rendering failed: {proc.args}")
                n_links += int(out)
        finally:
            for proc in procs:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        with open(done, "w") as f:
            json.dump({"n_links": n_links}, f)

    def head(self, limit: int) -> pa.Table:
        """The first ``limit`` pages of the window."""
        return pq.ParquetDataset(self.path).read().slice(0, limit)

    def html_of(self, urls: set) -> dict:
        """url → html bytes for the given urls of the window."""
        import pyarrow.dataset as ds
        t = ds.dataset(self.path).to_table(
            columns=["url", "html"], filter=pc.field("url").isin(list(urls)))
        return dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))

    def url_index(self) -> dict:
        """url → page index over the window."""
        from html_parser_spark.sources import synth
        return {synth.url_for(i): i
                for i in range(self.start, self.start + self.n)}


# -- query-suite tables ------------------------------------------------------

_DOC_WORDS = ("join hash row batch scan column customer filter small slow "
              "merge order vector line table data agg value key stream "
              "window a spark part group big sort query fast the").split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_PART_WORDS = ("anvil blue bolt cold gear gizmo hot large new old plate red "
               "ring rod small widget").split()
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["signup", "error", "click", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n: int, lo: datetime, span_days: int) -> list:
    return [lo + timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]


def _tables(rng) -> dict:
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc = (
        150, 10, 200, 1500, 6000, 1000, 500)
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust))}
    t["supplier"] = {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}
    t["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_WORDS[:8], n_part),
                                              rng.choice(_PART_WORDS[8:], n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + i / 10, 1) for i in range(n_part)]}
    t["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(rng.choice(["P", "O", "F"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, datetime(1995, 1, 1), 2404),
                                pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord))}
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": list(rng.choice(["R", "A", "N"], n_li)),
        "l_linestatus": list(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(_days(rng, n_li, datetime(1995, 1, 2), 2498),
                               pa.timestamp("us"))}
    gaps = rng.exponential(2600.0, n_ev)
    t["events"] = {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(seconds=float(s))
                        for s in np.cumsum(gaps)], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": list(rng.choice(_EVENTS, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n_doc, p=_LANG_P)),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    vecs = rng.normal(size=(n_doc, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())}
    return t


def query_tables(work: str, seed: int) -> str:
    """Write the seeded query-suite tables once; return their sf dir."""
    root = os.path.join(work, "inputs", f"tables-s{seed}")
    sf_dir = os.path.join(root, "sf0.001")
    if not os.path.exists(os.path.join(root, "_DONE")):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(sf_dir)
        for name, cols in _tables(np.random.default_rng(seed)).items():
            pq.write_table(pa.table(cols),
                           os.path.join(sf_dir, f"{name}.parquet"))
        open(os.path.join(root, "_DONE"), "w").close()
    return sf_dir


if __name__ == "__main__":
    # Child interpreter of PageCorpus._build: filler, with_links, then
    # start:stop:path chunks.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    chunk_args = [c.split(":", 2) for c in sys.argv[3:]]
    print(_render(int(sys.argv[1]), sys.argv[2] == "1",
                  [(int(lo), int(hi), path) for lo, hi, path in chunk_args]))
