"""Seeded inputs: the query mixes, the refresh delta and delete sample, and
their fingerprints, over a fixed base corpus.

Pages come from ``sources.pages.PagesGenerator``.  The base corpus uses
the fixed seed ``BASE_SEED``, so its index can be built once per checkout
and shared by every run; the delta, the delete sample and the query mixes
use the benchmark's ``--seed``.  The fingerprint hashes every generated
column in order; ``pins.json`` pins it (and the query-mix fingerprint) per
seed, so a change to the generator or the vocabulary shows as an input
change, not a speed change.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass
from pathlib import Path

from perfbench.querymix import QueryMix

BASE_SEED = "perfbench-base"
N_DOCS = 1000      # base corpus pages
N_DELTA = 100      # pages appended by the refresh workload
N_DELETE = 20      # urls deleted by the refresh workload
# Index layout for a 1k-doc corpus: 4 term shards; doc-id buckets of 250
# merged pairwise into 2 buckets of 500 (one kernel task each).  The ~970
# deduplicated base docs leave the last bucket part-filled, so a refresh
# delta re-merges it.
LAYOUT = {"num_shards": 4, "salt_buckets": 4, "merge_factor": 2,
          "bucket_width": 250}
INTERACTIVE_ROUNDS = 40   # 9 classes x 40 rounds, cycled by the loop
BATCH_ROUNDS = 5          # rounds of distinct queries per search_batch call

PINS = Path(__file__).resolve().parent / "pins.json"


def generate(n: int, seed) -> list[dict]:
    from search_engine_spark.sources.pages import PagesGenerator

    gen = PagesGenerator(n, seed)
    return [gen.row(i) for i in range(n)]


def write_parquet(rows: list[dict], path: Path) -> Path:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return path


def rows_fingerprint(*parts: list[dict]) -> str:
    h = hashlib.sha256()
    for rows in parts:
        for r in rows:
            for col in ("url", "warc_ts", "html", "text", "lang"):
                v = r[col]
                h.update(v if isinstance(v, bytes) else str(v).encode())
                h.update(b"\0")
        h.update(b"\1")
    return h.hexdigest()[:16]


@dataclass
class Inputs:
    seed: int
    base: list[dict]
    delta: list[dict]
    delete_urls: list[str]
    interactive: QueryMix   # cycled by the HTTP loop
    batch: QueryMix         # distinct queries, sent by every search_batch call

    @classmethod
    def make(cls, seed: int) -> "Inputs":
        base = generate(N_DOCS, BASE_SEED)
        base_urls = {r["url"] for r in base}
        # the delta shares no url with the base, so first-wins never has
        # to pick between batches and the oracle's dedup agrees trivially
        delta = [r for r in generate(N_DELTA, f"{seed}:delta")
                 if r["url"] not in base_urls]
        rng = random.Random(f"perfbench-delete:{seed}")
        delete_urls = rng.sample(sorted(base_urls), N_DELETE)
        return cls(seed, base, delta, delete_urls,
                   QueryMix(seed, INTERACTIVE_ROUNDS),
                   QueryMix(seed, BATCH_ROUNDS, distinct=True))

    def fingerprints(self) -> dict[str, str]:
        q = hashlib.sha256(
            (self.interactive.fingerprint() + self.batch.fingerprint()
             + "\n".join(self.delete_urls)).encode()
        ).hexdigest()[:16]
        return {"pages": rows_fingerprint(self.base, self.delta), "queries": q}

    def pin_status(self) -> str:
        """'match', 'unpinned' (seed outside pins.json) or 'MISMATCH'."""
        pins = json.loads(PINS.read_text()) if PINS.exists() else {}
        want = pins.get(str(self.seed))
        if want is None:
            return "unpinned"
        return "match" if want == self.fingerprints() else "MISMATCH"


def survivors(inp: Inputs) -> list[dict]:
    """Pages alive after the refresh: base + delta minus deleted urls."""
    gone = set(inp.delete_urls)
    return [r for r in inp.base + inp.delta if r["url"] not in gone]


def text_bytes(rows: list[dict]) -> int:
    """Bytes of the pages' extracted ``text`` column."""
    return sum(len(r["text"].encode()) for r in rows)
