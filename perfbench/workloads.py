"""Seeded workload inputs for the extraction-job benchmark.

Every input is a pure function of ``(workload, seed, smoke)``: the same
seed gives the same rows, byte for byte.  Rows follow the transcript
table schema ``(conv_id, turn_idx, role, text, tool, ts)`` and reuse the
package's payload generators (``sources.transcripts``), so the payload
shapes are the ones the kernels are written for.  Unlike the package's
tiled ``build_transcripts_df`` pool, every non-empty payload here is
distinct, so no cache or dedup shortcut can skip work.
"""

from __future__ import annotations

import random
import re
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd

# payload mix of the package generator (sources.transcripts._pick_kind):
# tool "" is a plain-text turn
KIND_MIX = (("html", 0.4), ("pdf", 0.2), ("ocr", 0.2), ("", 0.2))
ROLES = ("user", "assistant", "tool", "system")
BASE_TS = datetime(2025, 1, 1)
MEGA_CONV = "conv-mega"


@dataclass(frozen=True)
class Workload:
    name: str
    entry: str  # "extraction" or "corpus"
    n_turns: int
    smoke_turns: int
    run_s: float  # typical timed-run wall on a 4-core host; fixes the run count per --seconds
    skew_share: float = 0.0  # share of turns in one conversation
    resume_share: float = 0.0  # share of buckets whose checkpoint rows are removed
    exact_dup_share: float = 0.0  # turns re-wrapping an earlier html article
    near_dup_share: float = 0.0  # turns repeating an earlier plain text plus one word

    def params(self, seed: int) -> dict:
        """Generator parameters, as recorded in each run's results file."""
        p = asdict(self)
        p["seed"] = seed
        p["payload_mix"] = {k or "plain": w for k, w in KIND_MIX}
        p["distinct_payloads"] = True
        return p


# why each workload exists, and which two BENCHMARK.json runs: DESIGN.md
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "extract_uniform",
            "extraction",
            n_turns=12_000,
            smoke_turns=400,
            run_s=12.0,
        ),
        Workload(
            "extract_skewed",
            "extraction",
            n_turns=12_000,
            smoke_turns=400,
            run_s=12.0,
            skew_share=0.7,
        ),
        Workload(
            "resume_quarter",
            "extraction",
            n_turns=12_000,
            smoke_turns=400,
            run_s=8.0,
            resume_share=0.25,
        ),
        Workload(
            "corpus_build",
            "corpus",
            n_turns=2_000,
            smoke_turns=400,
            run_s=10.0,
            exact_dup_share=0.1,
            near_dup_share=0.05,
        ),
    )
}


def _pick_kind(rng: random.Random) -> str:
    r = rng.random()
    for kind, w in KIND_MIX:
        if r < w:
            return kind
        r -= w
    return KIND_MIX[-1][0]


class _Payloads:
    """Distinct payloads, plus the planted duplicates of ``corpus_build``:
    an exact duplicate re-wraps an earlier html article in a different
    nav bar (distinct payload, identical extracted text), and a near
    duplicate repeats an earlier plain text with one word appended
    (3-shingle Jaccard n/(n+1))."""

    _NAV = re.compile(r'<nav class="nav">.*?</nav>')

    def __init__(self, rng: random.Random, wl: Workload):
        from web_mass_scraper_ocr_spark.sources import transcripts as src

        self.rng, self.wl, self.src = rng, wl, src
        self.seen: set[str] = set()
        self.html: list[str] = []
        self.plain: list[str] = []

    def _fresh(self, kind: str) -> str:
        src, rng = self.src, self.rng
        build = {
            "html": src.html_payload,
            "pdf": src.pdf_payload,
            "ocr": src.ocr_payload,
        }.get(kind, src.plain_payload)
        return build(rng)

    def _planted(self) -> tuple[str, str] | None:
        rng, wl = self.rng, self.wl
        r = rng.random()
        if r < wl.exact_dup_share and self.html:
            words = rng.sample(self.src._VOCAB, 4)
            nav = '<nav class="nav">' + "".join(f'<a href="/{w}">{w}</a> ' for w in words) + "</nav>"
            return "html", self._NAV.sub(nav, rng.choice(self.html), count=1)
        if r < wl.exact_dup_share + wl.near_dup_share and self.plain:
            return "", rng.choice(self.plain) + " " + rng.choice(self.src._VOCAB) + "."
        return None

    def next(self) -> tuple[str, str]:
        while True:
            planted = self._planted()
            kind, text = planted or (k := _pick_kind(self.rng), self._fresh(k))
            if text in self.seen:
                continue
            self.seen.add(text)
            if planted is None and kind == "html":
                self.html.append(text)
            elif planted is None and kind == "":
                self.plain.append(text)
            return kind, text


def generate(wl: Workload, seed: int, smoke: bool = False) -> pd.DataFrame:
    """The workload's transcript rows.

    Conversation lengths are long-tail (3 + Exp(mean 6), capped at 60
    turns).  Fixture edge rows ride along by conversation index, as in
    the package's pytest fixture: empty payloads, NULL payloads,
    malformed HTML, a duplicate ``turn_idx`` split by ``ts`` and an
    unknown tool with a binary payload.  With ``skew_share`` > 0 one
    conversation (``conv-mega``) holds that share of all rows.
    """
    rng = random.Random(seed)
    payloads = _Payloads(rng, wl)
    n_total = wl.smoke_turns if smoke else wl.n_turns
    n_mega = int(n_total * wl.skew_share)
    rows: list[tuple] = []
    clock = 0

    def add(conv: str, idx: int, tool: str, text: str | None) -> None:
        nonlocal clock
        clock += 1
        rows.append((conv, idx, rng.choice(ROLES), text, tool, BASE_TS + timedelta(seconds=clock)))

    c = 0
    while len(rows) < n_total - n_mega:
        conv = f"conv-{seed % 1000:03d}-{c:06d}"
        n = min(3 + int(rng.expovariate(1 / 6.0)), 60)
        for t in range(n):
            add(conv, t, *payloads.next())
        if c % 17 == 0:
            add(conv, n, "ocr", "")
        if c % 23 == 0:
            add(conv, n + 1, "html", None)
        if c % 13 == 0:
            add(conv, n + 2, "html", payloads.src.html_payload(rng, malformed=True))
        if c % 29 == 0:
            add(conv, 1, "ocr", payloads.src.ocr_payload(rng))
        if c % 31 == 0:
            add(conv, n + 3, "binary", f"\x00\x01payload-{c}")
        c += 1
    for t in range(n_mega):
        add(MEGA_CONV, t, *payloads.next())
    # transcript tables arrive in write order, not clustered by
    # conversation: shuffle so no plan gets a pre-sorted input for free
    rng.shuffle(rows)
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_table(df: pd.DataFrame, data_dir: Path, n_files: int = 8) -> None:
    """Write rows as ``n_files`` Parquet files, without Spark, so input
    generation costs no Spark job and warms nothing the timed runs use."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    table = pa.Table.from_pandas(df.assign(ts=df["ts"].dt.tz_localize("UTC")), schema=schema, preserve_index=False)
    data_dir.mkdir(parents=True, exist_ok=True)
    step = -(-len(df) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), data_dir / f"part-{i:05d}.parquet")
