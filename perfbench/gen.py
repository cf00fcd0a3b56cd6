"""Seeded NDJSON input generator for the pipeline workloads.

Writes date-prefixed ``.ndjson`` event files of ~200-byte records with a
nested ``props`` object, sized inside the pipeline's ``validate_files``
window (3.5 MB +/- 50 %, i.e. 1.75-5.25 MB).  The same seed writes
byte-identical files.  Alongside the valid files it can write the
invalid shares the pipeline must quarantine (wrong extension, size out
of range) and name re-delivered duplicates (a valid path listed twice).

For every valid file the generator records its row count and an
order-insensitive hash of its ``event_id`` values, so the checker can
verify exactly-once output without trusting the program under test.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass, field

# Explicit schema of the generated records (streaming sources cannot
# infer); the batch pipeline keeps its default inference.
EVENT_SCHEMA = (
    "event_id STRING, user_id STRING, event_type STRING, ts STRING, "
    "props STRUCT<page: STRING, ref: STRING, dur: BIGINT, ab: STRING>, "
    "amount DOUBLE"
)

_EVENT_TYPES = ("page_view", "click", "scroll", "search", "add_to_cart", "purchase")
_REFS = ("google", "facebook", "email", "direct", "twitter")
_RECORD = (
    '{"event_id":"%s","user_id":"u%05d","event_type":"%s",'
    '"ts":"%sT%02d:%02d:%02dZ","props":{"page":"/p/%d","ref":"%s",'
    '"dur":%d,"ab":"%s"},"amount":%.2f}\n'
)
MB = 1024 * 1024


def event_hash(event_id: str) -> int:
    """Per-row addend of the order-insensitive id hash: the first 8 hex
    digits of md5, so a sum over ~10^6 rows stays exact in a BIGINT."""
    return int(hashlib.md5(event_id.encode()).hexdigest()[:8], 16)


@dataclass
class DateTotals:
    rows: int = 0
    id_hash: int = 0


@dataclass
class Corpus:
    """What the generator wrote, and what a correct pipeline must output."""

    valid: list[str] = field(default_factory=list)
    invalid: list[str] = field(default_factory=list)
    duplicates: list[str] = field(default_factory=list)
    expected: dict[str, DateTotals] = field(default_factory=dict)

    @property
    def valid_bytes(self) -> int:
        return sum(os.path.getsize(p) for p in self.valid)

    def listing(self) -> list[tuple[str, float]]:
        """(file_path, file_size_mb) rows as a drop-zone listing would
        deliver them: every landed file, duplicates delivered twice."""
        paths = self.valid + self.invalid + self.duplicates
        return [(p, os.path.getsize(p) / MB) for p in paths]


def _write_file(path: str, rng: random.Random, tag: str, date: str,
                target_bytes: int) -> DateTotals:
    totals = DateTotals()
    lines = []
    size = 0
    while size < target_bytes:
        eid = f"{tag}-{totals.rows:06d}"
        line = _RECORD % (
            eid, rng.randrange(100_000), rng.choice(_EVENT_TYPES), date,
            rng.randrange(24), rng.randrange(60), rng.randrange(60),
            rng.randrange(5_000), rng.choice(_REFS), rng.randrange(3_600),
            rng.choice("AB"), rng.random() * 500.0,
        )
        lines.append(line)
        size += len(line)
        totals.rows += 1
        totals.id_hash += event_hash(eid)
    with open(path, "w") as f:
        f.write("".join(lines))
    return totals


def write_corpus(
    out_dir: str,
    seed: int,
    prefix: str,
    n_files: int,
    file_mb: float,
    dates: list[str],
    n_bad_extension: int = 0,
    n_bad_size: int = 0,
    n_duplicates: int = 0,
) -> Corpus:
    """Write ``n_files`` valid files of ``file_mb`` round-robin over
    ``dates`` plus the invalid shares.  Sizes do not vary with the seed,
    so an op's input volume is the same for every seed.

    ``prefix`` keeps the event ids of two corpora in one run disjoint.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"{prefix}:{seed}")
    corpus = Corpus()
    for i in range(n_files):
        date = dates[i % len(dates)]
        path = os.path.join(out_dir, f"{date}-{prefix}-{i:04d}.ndjson")
        t = _write_file(path, rng, f"{prefix}{seed}-{i:04d}", date,
                        int(file_mb * MB))
        d = corpus.expected.setdefault(date, DateTotals())
        d.rows += t.rows
        d.id_hash += t.id_hash
        corpus.valid.append(path)
    for j in range(n_bad_extension):
        date = dates[j % len(dates)]
        path = os.path.join(out_dir, f"{date}-{prefix}-badext-{j:04d}.json")
        _write_file(path, rng, f"{prefix}{seed}-x{j:04d}", date,
                    int(file_mb * MB))
        corpus.invalid.append(path)
    for j in range(n_bad_size):
        date = dates[j % len(dates)]
        path = os.path.join(out_dir, f"{date}-{prefix}-small-{j:04d}.ndjson")
        _write_file(path, rng, f"{prefix}{seed}-s{j:04d}", date, MB // 2)
        corpus.invalid.append(path)
    corpus.duplicates = rng.sample(corpus.valid, min(n_duplicates, n_files))
    return corpus
