"""Golden corpus generation + byte-identity comparison harness.

The golden set is produced by running the SAME core kernel sequentially
(single process, no Spark) — SURVEY.md §7.1: one code path, so
byte-identity between golden and distributed output is structural.
"""

from __future__ import annotations

import json
from collections import Counter

from doc_ocr_spark.core.extractor import extract_document
from doc_ocr_spark.datagen import generate_pages


def golden_rows(n: int, seed: int = 42) -> list[dict]:
    """Sequential reference run over the synthetic corpus."""
    out = []
    for page in generate_pages(n, seed=seed):
        res = extract_document(page["url"], page["html"])
        out.append(
            {
                "url": res.url,
                "extracted_text": res.extracted_text,
                "spans": [
                    {"field": f, "start": s, "end": e} for (f, s, e) in res.spans
                ],
                "template_name": res.template_name,
                "complete": res.complete,
                "errors": res.errors,
                "fields_json": res.fields_json,
            }
        )
    return out


def _canon(row: dict) -> str:
    """Canonical string for one result row (key-sorted JSON)."""
    return json.dumps(
        {
            "url": row["url"],
            "extracted_text": row["extracted_text"],
            "spans": [
                [s["field"], s["start"], s["end"]] for s in (row["spans"] or [])
            ],
            "template_name": row["template_name"],
            "complete": row["complete"],
            "errors": list(row["errors"] or []),
            "fields_json": row["fields_json"],
        },
        sort_keys=True,
        ensure_ascii=False,
    )


def _by_url(rows: list[dict]) -> dict:
    """url -> multiset of canonical rows (a null url is one key like any
    other; rows sharing a url are all kept)."""
    out: dict = {}
    for r in rows:
        out.setdefault(r["url"], Counter())[_canon(r)] += 1
    return out


def compare_to_golden(spark_rows: list[dict], golden: list[dict]) -> list:
    """Full-outer comparison by url; returns the urls whose multisets of
    rows differ (empty == byte-identical), sorted with a null url
    first."""
    g, s = _by_url(golden), _by_url(spark_rows)
    bad = {u for u in g.keys() | s.keys() if g.get(u) != s.get(u)}
    return sorted(bad, key=lambda u: (u is not None, u or ""))
