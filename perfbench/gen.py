"""Seeded input generators for the benchmark, each returning its ground truth.

The program under test only ever sees the files these functions write; the
ground truth stays in the benchmark and is what the correctness checks
compare against.

Run standalone to inspect one generated input:

    python3 perfbench/gen.py logs --seed 1 --out gen-logs --lines 20000
    python3 perfbench/gen.py corpus --seed 1 --out gen-corpus --docs 1000
"""

from __future__ import annotations

import argparse
import ipaddress
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# S3 access-log lines
# ---------------------------------------------------------------------------

BUCKETS = tuple(f"logs-bucket-{i:02d}" for i in range(5))
OPERATIONS = (
    "REST.GET.OBJECT",
    "REST.PUT.OBJECT",
    "REST.HEAD.OBJECT",
    "REST.GET.BUCKET",
    "REST.DELETE.OBJECT",
    "REST.COPY.OBJECT",
)
# /16 networks the IPs are drawn from; the cidr query filters one of them.
NETWORKS = ("10.1", "10.2", "172.16", "192.168", "198.51", "203.0")
STATUSES = (("200", "-"), ("206", "-"), ("304", "-"), ("403", "AccessDenied"),
            ("404", "NoSuchKey"), ("500", "InternalError"),
            ("503", "SlowDown"))
STATUS_WEIGHTS = (80, 3, 3, 5, 6, 1, 2)
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
MALFORMED_SHARE = 0.005
DAY = (2026, 3, 14)


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def hour_prefix(hour: int) -> str:
    """The ``YYYY-MM-DD-HH`` prefix that names an hour's files."""
    y, m, d = DAY
    return f"{y:04d}-{m:02d}-{d:02d}-{hour:02d}"


@dataclass
class LogTruth:
    """What the generated lines must parse into."""

    lines: int = 0
    malformed: int = 0
    raw_bytes: int = 0
    files: int = 0
    bytessent_sum: int = 0
    remoteip_int_sum: int = 0
    # (bucket, operation, year, month, day, hour) -> rows; malformed rows
    # carry None for the operation and the time parts.
    partitions: Counter = field(default_factory=Counter)

    def merge(self, other: "LogTruth") -> None:
        self.lines += other.lines
        self.malformed += other.malformed
        self.raw_bytes += other.raw_bytes
        self.files += other.files
        self.bytessent_sum += other.bytessent_sum
        self.remoteip_int_sum += other.remoteip_int_sum
        self.partitions.update(other.partitions)

    def to_json(self) -> dict:
        return {
            "lines": self.lines,
            "malformed": self.malformed,
            "raw_bytes": self.raw_bytes,
            "files": self.files,
            "bytessent_sum": self.bytessent_sum,
            "remoteip_int_sum": self.remoteip_int_sum,
            "partitions": len(self.partitions),
        }


class LogPools:
    """Per-seed value pools: requesters, IPs, keys, agents."""

    def __init__(self, rng: random.Random):
        self.owners = {b: "%064x" % rng.getrandbits(256) for b in BUCKETS}
        acct = [f"{rng.randrange(10**11, 10**12)}" for _ in range(8)]
        req = ["-"]
        for i in range(120):
            req.append(f"arn:aws:iam::{rng.choice(acct)}:user/user{i:03d}")
        for i in range(60):
            req.append(
                f"arn:aws:sts::{rng.choice(acct)}:assumed-role/"
                f"role{i % 9}/session{i:03d}"
            )
        self.requesters = req
        self.requester_w = zipf_weights(len(req), 0.9)
        self.ips = [
            f"{rng.choice(NETWORKS)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
            for _ in range(600)
        ] + ["-", "2001:db8::17"]
        self.ip_w = zipf_weights(len(self.ips), 0.8)
        self.keys = [f"data/part-{i:05d}.bin" for i in range(2000)] + ["-"]
        self.agents = ['"aws-cli/2.15.0 Python/3.11.6 Linux/6.1"',
                       '"S3Console/0.4"', '"aws-sdk-java/1.12.500 Linux"',
                       '"Boto3/1.34.0 Python/3.11.7 md/Botocore#1.34.0"']


def _ipv4_int(ip: str) -> int | None:
    try:
        return int(ipaddress.IPv4Address(ip))
    except ValueError:
        return None


def write_log_hour(
    out_dir: str, seed: int, hour: int, n_lines: int, n_files: int
) -> LogTruth:
    """Write one hour of raw access-log lines as ``n_files`` files named
    ``YYYY-MM-DD-HH-MM-SS-<hash>`` and return their ground truth.

    Buckets, operations, requesters and IPs are Zipf-skewed; about 0.5% of
    lines are malformed (cut short inside the timestamp), which parse to
    rows whose operation and time parts are NULL."""
    rng = random.Random(seed * 1_000_003 + hour)
    pools = LogPools(random.Random(seed))
    truth = LogTruth(files=n_files)
    os.makedirs(out_dir, exist_ok=True)
    y, mo, d = DAY
    buckets = rng.choices(BUCKETS, zipf_weights(len(BUCKETS)), k=n_lines)
    ops = rng.choices(OPERATIONS, zipf_weights(len(OPERATIONS), 1.3), k=n_lines)
    reqs = rng.choices(pools.requesters, pools.requester_w, k=n_lines)
    ips = rng.choices(pools.ips, pools.ip_w, k=n_lines)
    stats = rng.choices(STATUSES, STATUS_WEIGHTS, k=n_lines)
    per_file = -(-n_lines // n_files)
    for f in range(n_files):
        lo, hi = f * per_file, min(n_lines, (f + 1) * per_file)
        minute = f * 60 // n_files
        name = (f"{hour_prefix(hour)}-{minute:02d}-{rng.randrange(60):02d}-"
                f"{rng.getrandbits(64):016X}")
        buf = []
        for i in range(lo, hi):
            b, op, ip = buckets[i], ops[i], ips[i]
            status, err = stats[i]
            mm, ss = rng.randrange(60), rng.randrange(60)
            key = rng.choice(pools.keys)
            size = rng.randrange(0, 5_000_000)
            sent = "-" if status in ("304", "403") else str(
                rng.randrange(0, size + 1))
            head = (f"{pools.owners[b]} {b} "
                    f"[{d:02d}/{MONTHS[mo - 1]}/{y}:{hour:02d}:{mm:02d}:{ss:02d}"
                    f" +0000] {ip} {reqs[i]} {rng.getrandbits(64):016X} {op}")
            if rng.random() < MALFORMED_SHARE:
                # a line cut short inside its timestamp
                buf.append(head[:head.index("]") - 4])
                truth.malformed += 1
                truth.partitions[(b, None, None, None, None, None)] += 1
                continue
            uri = f'"{op.split(".")[1]} /{b}/{key} HTTP/1.1"'
            buf.append(
                f"{head} {key} {uri} {status} {err} {sent} {size} "
                f"{rng.randrange(1, 900)} {rng.randrange(0, 200)} "
                f'"-" {rng.choice(pools.agents)} - '
                f"{rng.getrandbits(96):024x}= SigV4 "
                "ECDHE-RSA-AES128-GCM-SHA256 AuthHeader "
                f"{b}.s3.us-east-1.amazonaws.com TLSv1.2"
            )
            truth.bytessent_sum += 0 if sent == "-" else int(sent)
            truth.remoteip_int_sum += _ipv4_int(ip) or 0
            truth.partitions[(b, op, y, mo, d, hour)] += 1
        data = ("\n".join(buf) + "\n").encode()
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        truth.raw_bytes += len(data)
    truth.lines = n_lines
    return truth


def write_log_hours(
    out_dir: str, seed: int, hours: list[int], n_lines: int, n_files: int
) -> LogTruth:
    """Several hours of lines side by side in one directory."""
    total = LogTruth()
    for h in hours:
        total.merge(write_log_hour(out_dir, seed, h, n_lines, n_files))
    return total


# ---------------------------------------------------------------------------
# Curation corpus + embeddings
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf"),
    "fr": ("le", "et", "est", "pour", "dans", "ce", "un", "que"),
}
_SYLLABLES = ("ka", "lo", "mi", "ran", "tu", "vel", "sor", "ni", "pa", "dex",
              "quo", "ber", "lin", "ta", "mor", "zy", "fen", "gar", "hul", "ost")
EMB_DIMS = 32
N_CLUSTERS = 16


@dataclass
class CorpusTruth:
    docs: int = 0
    text_bytes: int = 0
    exact_dup_ids: list[int] = field(default_factory=list)
    near_dup_ids: list[int] = field(default_factory=list)
    low_quality_ids: list[int] = field(default_factory=list)
    other_lang_ids: list[int] = field(default_factory=list)

    def to_json(self) -> dict:
        return {
            "docs": self.docs,
            "text_bytes": self.text_bytes,
            "exact_dups": len(self.exact_dup_ids),
            "near_dups": len(self.near_dup_ids),
            "low_quality": len(self.low_quality_ids),
            "other_lang": len(self.other_lang_ids),
        }


def _vocab(rng: random.Random, n: int) -> list[str]:
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def _doc_words(rng: random.Random, vocab: list[str], lang: str, n: int) -> list[str]:
    stops = STOPWORDS[lang]
    return [rng.choice(stops) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(n)]


def write_corpus(out_dir: str, seed: int, n_docs: int) -> CorpusTruth:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars) and
    ``embeddings.parquet`` (vec_id, embedding, label) under ``out_dir``.

    Base documents are 10% short stopword-free text (fails the quality gate),
    10% German or French (fails an English-only gate) and 80% long English
    prose. On top of those, 4% of the corpus are exact copies of passing
    documents and 6% are near copies (two words replaced). Embeddings are
    clustered (``label`` names the cluster), and a copy's vector sits next to
    its original's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    # One vocabulary for every seed: BPE token counts and the compression
    # of the written ids depend on it, and would otherwise vary by seed.
    vocab = _vocab(random.Random(0), 400)
    n_exact, n_near = n_docs * 4 // 100, n_docs * 6 // 100
    n_base = n_docs - n_exact - n_near
    truth = CorpusTruth(docs=n_docs)
    texts: list[str] = []
    langs: list[str] = []
    seen: set[str] = set()
    passing: list[int] = []
    while len(texts) < n_base:
        i = len(texts)
        kind = i % 10  # exact shares, so every seed has the same mix
        if kind == 0:
            lang, words = "en", [rng.choice(vocab) for _ in range(rng.randint(4, 9))]
        elif kind == 1:
            lang = rng.choice(("de", "fr"))
            words = _doc_words(rng, vocab, lang, rng.randint(60, 140))
        else:
            lang, words = "en", _doc_words(rng, vocab, "en", rng.randint(110, 220))
        text = " ".join(words)
        if text in seen:
            continue
        seen.add(text)
        if kind == 0:
            truth.low_quality_ids.append(i)
        elif kind == 1:
            truth.other_lang_ids.append(i)
        else:
            passing.append(i)
        texts.append(text)
        langs.append(lang)
    origin = list(range(n_base))
    for _ in range(n_exact):
        src = rng.choice(passing)
        truth.exact_dup_ids.append(len(texts))
        texts.append(texts[src])
        langs.append("en")
        origin.append(src)
    for _ in range(n_near):
        src = rng.choice(passing)
        words = texts[src].split(" ")
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        truth.near_dup_ids.append(len(texts))
        texts.append(" ".join(words))
        langs.append("en")
        origin.append(src)
    # Renumber so each copy directly follows its original instead of all
    # copies sitting at the tail; keep-first still elects the original.
    perm = sorted(range(len(texts)), key=lambda i: (origin[i], i))
    new_id = {old: new for new, old in enumerate(perm)}
    truth.exact_dup_ids = sorted(new_id[i] for i in truth.exact_dup_ids)
    truth.near_dup_ids = sorted(new_id[i] for i in truth.near_dup_ids)
    truth.low_quality_ids = sorted(new_id[i] for i in truth.low_quality_ids)
    truth.other_lang_ids = sorted(new_id[i] for i in truth.other_lang_ids)
    texts = [texts[i] for i in perm]
    langs = [langs[i] for i in perm]
    origin = [origin[i] for i in perm]
    truth.text_bytes = sum(len(t.encode()) for t in texts)

    centers = nrng.standard_normal((N_CLUSTERS, EMB_DIMS))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    base_label = nrng.integers(0, N_CLUSTERS, n_base)
    base_vec = centers[base_label] + 0.35 * (
        nrng.standard_normal((n_base, EMB_DIMS)))
    vecs = base_vec[origin] + 0.002 * nrng.standard_normal((len(texts), EMB_DIMS))
    labels = base_label[origin]

    os.makedirs(out_dir, exist_ok=True)
    ids = pa.array(range(len(texts)), pa.int64())
    pq.write_table(
        pa.table({
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 4}" for i in range(len(texts))]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(out_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table({
            "vec_id": ids,
            "embedding": pa.array(vecs.astype(np.float32).tolist(),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels.tolist(), pa.int32()),
        }),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=("logs", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--lines", type=int, default=20_000)
    ap.add_argument("--files", type=int, default=24)
    ap.add_argument("--hour", type=int, default=0)
    ap.add_argument("--docs", type=int, default=1000)
    a = ap.parse_args()
    if a.kind == "logs":
        truth = write_log_hour(a.out, a.seed, a.hour, a.lines, a.files).to_json()
    else:
        truth = write_corpus(a.out, a.seed, a.docs).to_json()
    print(json.dumps(truth))


if __name__ == "__main__":
    main()
