"""Correctness oracle for every timed run.

Extraction: the package's own ``extract_turn`` run serially, in this
process, over the same input rows, with ``turn_rank`` taken from a pandas
stable sort by ``(conv_id, turn_idx, ts)``.  Each output row is reduced
to an md5 digest of its values on both sides and the digests are compared
as a multiset, keyed by ``(conv_id, turn_idx, turn_rank)``, so the check
is independent of row order and costs one narrow collect.

Corpus: invariants that need no Spark (kept rows are eligible successes,
no two share a lowercase md5, the kept set repeats exactly across runs).
"""

from __future__ import annotations

import hashlib
import json
import time
from collections import Counter

import pandas as pd

SEP = "\x1f"
DIGEST_COLUMNS = ("role", "content_kind", "clean_text", "spans", "status", "n_chars", "n_words", "extractor_version")


def row_digest(role, kind, clean, spans, status, n_chars, n_words, version) -> str:
    spans_json = json.dumps(
        [{"kind": k, "start": s, "end": e} for k, s, e in spans], separators=(",", ":"), ensure_ascii=False
    )
    return hashlib.md5(
        SEP.join((role, kind, clean, spans_json, status, str(n_chars), str(n_words), version)).encode()
    ).hexdigest()


def spark_digest_col():
    """The same digest as :func:`row_digest`, computed by Spark."""
    from pyspark.sql import functions as F

    return F.md5(
        F.concat_ws(
            SEP,
            *[F.to_json(c) if c == "spans" else F.col(c).cast("string") for c in DIGEST_COLUMNS],
        )
    )


def serial_oracle(pdf: pd.DataFrame, max_payload_chars: int, version: str) -> pd.DataFrame:
    """One row per turn that reaches the kernels (payload non-NULL,
    non-empty, within the size cap), with the expected output digest and
    the single-core kernel time of that turn."""
    from web_mass_scraper_ocr_spark.kernels.dispatch import extract_turn

    valid = pdf[pdf["text"].notna() & (pdf["text"].str.len() > 0) & (pdf["text"].str.len() <= max_payload_chars)]
    valid = valid.sort_values(["conv_id", "turn_idx", "ts"], kind="stable").reset_index(drop=True)
    rank = valid.groupby("conv_id", sort=False).cumcount() + 1
    kinds, statuses, cleans, words, digests, secs = [], [], [], [], [], []
    clock = time.perf_counter
    for role, text, tool in zip(valid["role"], valid["text"], valid["tool"]):
        t0 = clock()
        r = extract_turn(text, tool)
        secs.append(clock() - t0)
        kinds.append(r["content_kind"])
        statuses.append(r["status"])
        cleans.append(r["clean_text"])
        words.append(r["n_words"])
        digests.append(
            row_digest(role, r["content_kind"], r["clean_text"], r["spans"], r["status"], r["n_chars"], r["n_words"], version)
        )
    return pd.DataFrame(
        {
            "conv_id": valid["conv_id"],
            "turn_idx": valid["turn_idx"].astype(int),
            "turn_rank": rank.astype(int),
            "content_kind": kinds,
            "status": statuses,
            "clean_text": cleans,
            "n_words": words,
            "digest": digests,
            "kernel_s": secs,
        }
    )


def extraction_failures(expected: pd.DataFrame, rows: list) -> int:
    """Turns whose output row is missing, duplicated or differs from the
    oracle, plus output rows the oracle has no turn for.  ``rows`` are
    ``(conv_id, turn_idx, turn_rank, digest)`` tuples read back from the
    output table."""
    want = Counter(zip(expected["conv_id"], expected["turn_idx"], expected["turn_rank"], expected["digest"]))
    got = Counter((r[0], int(r[1]), int(r[2]), r[3]) for r in rows)
    bad_keys = {k[:3] for k, n in (want - got).items()} | {k[:3] for k, n in (got - want).items()}
    return len(bad_keys)


def count_mismatch(expected: dict, actual: dict) -> int:
    """Sum of absolute differences between two count maps."""
    return sum(abs(expected.get(k, 0) - actual.get(k, 0)) for k in set(expected) | set(actual))


def corpus_failures(
    expected: pd.DataFrame,
    kept: list,
    first_keys: frozenset | None,
    min_quality: float,
    min_words: int,
) -> int:
    """Invariant violations of one corpus run.  ``kept`` rows are
    ``(doc_key, clean_text, quality_score)``; ``first_keys`` is the kept
    set of the run's first iteration (None on that iteration)."""
    by_key = {
        f"{c}#{t}#{r}": (s, w, txt)
        for c, t, r, s, w, txt in zip(
            expected["conv_id"], expected["turn_idx"], expected["turn_rank"],
            expected["status"], expected["n_words"], expected["clean_text"],
        )
    }
    bad = 0
    seen_md5: set[str] = set()
    for key, text, quality in kept:
        exp = by_key.get(key)
        ok = (
            exp is not None
            and exp[0] == "success"
            and exp[1] >= min_words
            and exp[2] == text
            and quality is not None
            and quality >= min_quality
        )
        fp = hashlib.md5(text.lower().encode()).hexdigest()
        if fp in seen_md5:
            ok = False
        seen_md5.add(fp)
        bad += not ok
    keys = [k for k, _, _ in kept]
    bad += len(keys) - len(set(keys))
    if first_keys is not None:
        bad += len(first_keys.symmetric_difference(keys))
    return bad
