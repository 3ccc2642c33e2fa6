"""Analytic expectations the benchmark checks every output against.

All of them are computed from the generated inputs with the package's
pure-row functions (`bocadillo_spark.synth`) or its DuckDB twin
(`plans.curation.curation_oracle_sql`), never from a Spark run."""

from __future__ import annotations

from collections import Counter

import pandas as pd

JACCARD_THRESHOLD = 0.8  # minhash_dedup_pairs' default
MIN_PLANTED_RECALL = 0.95


def doc_id_of_url(url: str) -> int:
    return int(url.rsplit("/", 1)[1])


def sink_counts(doc_ids, langs) -> Counter:
    """(sink_id, event_type) -> routed rows, from the synth pure functions
    (the same semantics as synth.routed_cte_sql). `langs` are the
    documents' langs before the `unknown` fixture is applied."""
    from bocadillo_spark.synth import (
        ZH_DARK_HOST_MIN,
        event_type_of,
        host_id_of,
        is_empty_html,
        lang_of,
        n_events_of,
    )

    out: Counter = Counter()
    for d, lang in zip(doc_ids, langs):
        d = int(d)
        if is_empty_html(d):
            out[("error", "parse_error")] += 1
            continue
        lang = lang_of(d, lang)
        dark = lang == "zh" and host_id_of(d) >= ZH_DARK_HOST_MIN
        sink = "error" if lang == "unknown" or dark else f"sink_{lang}"
        for seq in range(n_events_of(d)):
            out[(sink, event_type_of(d, seq))] += 1
    return out


def counts_to_json(c: Counter) -> list[list]:
    return sorted([s, e, n] for (s, e), n in c.items())


def counts_from_json(rows) -> Counter:
    return Counter({(s, e): n for s, e, n in rows})


def text_bytes_by_url(pages: pd.DataFrame) -> dict[str, bytes]:
    """url -> the byte payload the parse must extract, for every page that
    frames (pages with empty html are parse errors and carry none)."""
    from bocadillo_spark.synth import is_empty_html, text_bytes_of

    out = {}
    for url, text in zip(pages["url"], pages["text"]):
        d = doc_id_of_url(url)
        if not is_empty_html(d):
            out[url] = text_bytes_of(d, text)
    return out


# ------------------------------------------------------------- dedup


def shingles(text: str | None) -> set[tuple[str, str, str]]:
    """Word-3-gram shingle set exactly as operators.dedup.word_3gram_col
    defines it: split on single spaces, max(n - 2, 1) windows, padded with
    empty strings past the end."""
    toks = (text or "").split(" ")
    n = len(toks)
    pad = toks + ["", ""]
    return {(pad[j], pad[j + 1], pad[j + 2]) for j in range(max(n - 2, 1))}


def jaccard(a: str | None, b: str | None) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def planted_pairs(text: dict, plants: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """The planted (original, variant) pairs whose exact Jaccard reaches
    the dedup threshold: the pairs the operator must find."""
    return sorted(
        (int(a), int(b)) for a, b in plants if jaccard(text[a], text[b]) >= JACCARD_THRESHOLD
    )


def check_pairs(rows, text: dict, planted: list[tuple[int, int]]) -> dict:
    """minhash_dedup_pairs output (doc_id_a, doc_id_b, jaccard): every pair
    must be ordered, above the threshold with its exact Jaccard, and the
    planted pairs must be found with recall >= MIN_PLANTED_RECALL."""
    found = set()
    bad = 0
    for a, b, j in rows:
        found.add((a, b))
        if not (a < b and j >= JACCARD_THRESHOLD and abs(j - jaccard(text[a], text[b])) < 1e-12):
            bad += 1
    hit = sum(p in found for p in planted)
    recall = hit / len(planted) if planted else 1.0
    return {
        "ok": bad == 0 and recall >= MIN_PLANTED_RECALL and len(found) == len(rows),
        "verified_pairs": len(rows),
        "bad_pairs": bad,
        "planted": len(planted),
        "recall": recall,
    }


def check_footer_clusters(cl: pd.DataFrame, skip_mod: int) -> dict:
    """The fuzzy-footer contract of chunk_fuzzy_clusters over
    augment_with_fuzzy_footers: per source, every footer chunk (pos 0 of
    docs with doc_id % skip_mod != 1) lands in ONE cluster, and no organic
    chunk joins a footer cluster."""
    footer = (cl["doc_id"] % skip_mod != 1) & (cl["pos"] == 0)
    per_src = cl[footer].groupby("block")["cluster"].nunique()
    footer_clusters = set(cl.loc[footer, "cluster"])
    leaked = int(cl.loc[~footer, "cluster"].isin(footer_clusters).sum())
    return {
        "ok": bool((per_src == 1).all()) and leaked == 0 and len(per_src) > 0,
        "sources": int(len(per_src)),
        "footer_chunks": int(footer.sum()),
        "organic_leaks": leaked,
    }


def curation_stats(corpus_glob: str) -> list[list[int]]:
    """(shard, n_docs, shard_tokens) of the curated export, from the DuckDB
    twin of the whole curation composition."""
    import duckdb

    from bocadillo_spark.plans.curation import curation_oracle_sql

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, lang, source, text "
            f"FROM read_parquet('{corpus_glob}')"
        )
        rows = con.sql(curation_oracle_sql()).fetchall()
    finally:
        con.close()
    return sorted([int(s), int(n), int(t)] for s, n, t in rows)
