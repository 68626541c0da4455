"""In-process kernel timings: µs per call after a warm-up pass, on a
fixed-size seeded sample of the workload's own pages."""

from __future__ import annotations

import time

KERNELS = (
    "html_text.extract_main_content.us_per_page",
    "tokenize.get_sentences.us_per_page",
    "mentions.candidate_annotations.us_per_sentence",
    "mentions.tag_sentence.us_per_sentence",
    "repetition.ngram_fractions.us_per_doc",
)

WARMUP = 20


def _us_per_call(fn, items) -> float:
    for item in items[:WARMUP]:
        fn(item)
    t0 = time.perf_counter()
    for item in items:
        fn(item)
    return (time.perf_counter() - t0) * 1e6 / max(1, len(items))


def time_kg_kernels(pages: list[dict], ner_rows: list[tuple]) -> dict:
    """pages: [{url, html}]; ner_rows: the run's `ner_model` table as
    (kind, key, tag, count) tuples."""
    from kgp import html_text, mentions, tokenize

    texts = [html_text.extract_main_content(p["html"], p["url"])["text"]
             for p in pages]
    sentences = [s for t in texts
                 for s in tokenize.get_sentences(t, only_real=True)]
    model = mentions.model_from_rows(ner_rows)
    return {
        KERNELS[0]: _us_per_call(
            lambda p: html_text.extract_main_content(p["html"], p["url"]),
            pages),
        KERNELS[1]: _us_per_call(
            lambda t: tokenize.get_sentences(t, only_real=True), texts),
        KERNELS[2]: _us_per_call(
            lambda s: mentions.candidate_annotations(s.value), sentences),
        KERNELS[3]: _us_per_call(
            lambda s: mentions.tag_sentence(s.value, s.start, model),
            sentences),
    }


def time_curation_kernels(texts: list[str]) -> dict:
    from kgp import repetition

    return {KERNELS[4]: _us_per_call(repetition.ngram_fractions, texts)}
