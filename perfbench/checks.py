"""Output checks against references independent of the code under test:
``synth.golden_envelope``, the stdlib-HTMLParser text oracle and the
``oracle_sql()`` DuckDB twins."""

from __future__ import annotations

import json

# Every TEXT_SAMPLE-th page (by index) is compared against the stdlib
# HTMLParser text oracle; envelopes are compared on every page.
TEXT_SAMPLE = 20

SUITE_TABLES = ("region nation customer supplier part orders lineitem "
                "events documents embeddings").split()


def text_sample(url_index: dict) -> set:
    """Urls whose extracted text is compared against the text oracle."""
    return {u for u, i in url_index.items() if i % TEXT_SAMPLE == 0}


def sampled_text(url_index: dict):
    """The ``text`` column on sampled rows, null elsewhere (keeps the
    collected check output small)."""
    from pyspark.sql import functions as F
    return F.when(F.col("url").isin(list(text_sample(url_index))),
                  F.col("text")).alias("text")


def check_extracted(rows: list, url_index: dict, html_by_url: dict
                    ) -> tuple[int, int, list]:
    """Rows of an extraction output against ``synth.golden_envelope`` and,
    on a sample, the text oracle. One operation per expected page."""
    from html_parser_spark.sources import synth
    from tests.oracle import oracle_text
    seen, failed, notes = set(), 0, []
    for r in rows:
        idx = url_index.get(r["url"])
        if idx is None or idx in seen:
            failed += 1
            notes.append(f"unexpected row {r['url']}")
            continue
        seen.add(idx)
        golden = synth.golden_envelope(idx)
        profile = synth.profile_for(idx)
        if golden is not None:
            ok = (r["status"] == "ok" and r["envelope"] is not None
                  and json.loads(r["envelope"]) == golden)
        elif profile == "pdf":
            ok = r["status"] == "ok" and r["profile"] == "pdf"
        else:   # blocked/truncated page: any status but a job failure
            ok = r["status"] in ("no_rule", "error")
        if ok and idx % TEXT_SAMPLE == 0 and profile != "pdf":
            html = bytes(html_by_url[r["url"]]).decode("utf-8", errors="replace")
            ok = r["text"] == oracle_text(html)
        if not ok:
            failed += 1
            notes.append(f"page {idx} ({profile}, status {r['status']}): "
                         "output differs from its reference")
    missing = len(url_index) - len(seen)
    if missing:
        notes.append(f"{missing} pages missing from the output")
    return len(url_index), failed + missing, notes


def duck_matches(spark_pdf, sql: str, sf_dir: str) -> bool:
    """The Spark result against its DuckDB twin, compared the way the
    repository's oracle tests compare them."""
    import duckdb
    import pandas as pd
    from tests.test_entry_oracle import _normalize
    con = duckdb.connect()
    try:
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        duck_pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=0, rtol=0)
    except AssertionError:
        return False
    return True


def frame_key(pdf) -> str:
    """An order-insensitive text form of a query result, for comparing the
    warm passes' results with the checked one."""
    from tests.test_entry_oracle import _normalize
    return _normalize(pdf).to_csv(index=False)
