"""Output checks.  Tables are read with pyarrow, so no check adds a
Spark job to the run it checks."""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow.parquet as pq

TEXT_SAMPLE = 500


def read_rows(out_dir: str, table: str) -> list[dict]:
    return pq.read_table(os.path.join(out_dir, table)).to_pylist()


def _canonical(value):
    if isinstance(value, float):
        return round(value, 9)
    if isinstance(value, dict):
        return tuple(sorted((k, _canonical(v)) for k, v in value.items()))
    if isinstance(value, list):
        return tuple(_canonical(v) for v in value)
    return value


def digest(out_dir: str, table: str) -> dict:
    """Row count and an order-insensitive value digest.  Doubles are
    rounded to 9 decimals: their last bits depend on summation order."""
    rows = sorted(repr(tuple(sorted((k, _canonical(v)) for k, v in r.items())))
                  for r in read_rows(out_dir, table))
    h = hashlib.blake2b(digest_size=16)
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"rows": len(rows), "digest": h.hexdigest()}


def golden_triples(out_dir: str, doc_ids: list[int]) -> str | None:
    """P = R = 1.0 against kgp.golden for the seeded doc_ids."""
    from kgp import golden

    got = {(r["subj"], r["pred"], r["obj"])
           for r in read_rows(out_dir, "triples")}
    p, r = golden.precision_recall(got, golden.golden_triples(doc_ids))
    if (p, r) != (1.0, 1.0):
        return f"triples: P={p:.4f} R={r:.4f}, expected 1.0/1.0"
    return None


def extracted_text(out_dir: str, pages: list[dict], seed: int) -> str | None:
    """docs.text byte-identical to html_text.extract_main_content run
    in-process, on a seeded sample of at least TEXT_SAMPLE urls."""
    from kgp import html_text

    sample = random.Random(seed).sample(pages, min(TEXT_SAMPLE, len(pages)))
    docs = {r["url"]: r["text"] for r in pq.read_table(
        os.path.join(out_dir, "docs"), columns=["url", "text"]).to_pylist()}
    bad = [p["url"] for p in sample
           if docs.get(p["url"]) !=
           html_text.extract_main_content(p["html"], p["url"])["text"]]
    if bad:
        return f"docs.text differs from in-process extraction for {len(bad)} " \
               f"of {len(sample)} urls, e.g. {bad[0]}"
    return None


def same_tables(before: dict, after: dict, what: str) -> str | None:
    diff = [t for t in before if before[t] != after.get(t)]
    if diff:
        return f"{what}: tables differ: {', '.join(diff)}"
    return None
