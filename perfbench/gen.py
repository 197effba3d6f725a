"""Seeded input generators. The same arguments give byte-identical files.

Tweets (NDJSON, the package's RawTweet shape): event time advances at a
fixed multiple of the file schedule, entities are heavy-tailed (Zipf over
tens of thousands of users and hashtags, plus a few viral ones that a
fixed share of tweets carry), a small share of events arrive out of order
by less than the 5 s disorder tolerance, and every file ends with a fixed
number of malformed lines.

Documents (NDJSON ``{"doc_id", "text"}``): Zipf-distributed vocabulary,
with a stated share of each file being planted near-duplicates (a few
tokens replaced) of documents generated earlier.
"""

from __future__ import annotations

import bisect
import itertools
import json
import random

BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z

N_USERS = 40_000
N_HASHTAGS = 20_000
N_ORIGINALS = 8_000
VIRAL_USERS = ("viral_user_a", "viral_user_b")
VIRAL_TAGS = ("viral", "trending")
VIRAL_SHARE = 0.15  # share of tweets that mention / tag a viral entity
RETWEET_SHARE = 0.3
DISORDER_SHARE = 0.02
DISORDER_MAX_MS = 4_000  # < the pipeline's 5 s tolerance: nothing is late
MALFORMED_PER_FILE = 2  # one unparseable line, one without a timestamp

VOCAB = 5_000
DOC_TOKENS = (30, 60)
DUP_EDITS = 2  # tokens replaced in a planted near-duplicate


def _zipf_cum(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (r ** s) for r in range(1, n + 1)))


_USER_CUM = _zipf_cum(N_USERS, 1.05)
_TAG_CUM = _zipf_cum(N_HASHTAGS, 1.05)
_ORIG_CUM = _zipf_cum(N_ORIGINALS, 1.1)
_WORD_CUM = _zipf_cum(VOCAB, 1.0)


def zipf_rank(rng: random.Random, cum: list[float]) -> int:
    """0-based rank drawn with probability proportional to 1/(rank+1)^s."""
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def user(rank: int) -> str:
    return f"u{rank}"


def hashtag(rank: int) -> str:
    return f"tag{rank}"


def original_id(rank: int) -> int:
    return 9_000_000_000 + rank


def _dumps(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _tweet_id(seed: int, index: int, j: int) -> int:
    return (seed % 1000) * 1_000_000_000 + index * 1_000_000 + j


def tweet_file(
    seed: int, index: int, n_tweets: int, start_ms: int, span_ms: int
) -> tuple[list[str], int]:
    """Lines of tweet file ``index``: ``n_tweets`` valid tweets with event
    times spread over [start_ms, start_ms + span_ms) in arrival order,
    then MALFORMED_PER_FILE malformed lines. Returns (lines, max event
    time in ms)."""
    rng = random.Random(f"tweets:{seed}:{index}")
    lines = []
    max_ts = start_ms
    for j in range(n_tweets):
        ts = start_ms + (j * span_ms) // n_tweets
        if rng.random() < DISORDER_SHARE:
            ts -= rng.randint(1, DISORDER_MAX_MS)
        max_ts = max(max_ts, ts)
        tid = _tweet_id(seed, index, j)
        tags = [hashtag(zipf_rank(rng, _TAG_CUM)) for _ in range(rng.randint(0, 3))]
        mentions = [user(zipf_rank(rng, _USER_CUM)) for _ in range(rng.randint(0, 2))]
        if rng.random() < VIRAL_SHARE:
            tags.append(rng.choice(VIRAL_TAGS))
            mentions.append(rng.choice(VIRAL_USERS))
        t = {
            "id": tid,
            "text": f"tweet {tid} " + " ".join("#" + h for h in tags),
            "lang": "en",
            "timestamp_ms": str(ts),
            "user": {
                "screen_name": user(zipf_rank(rng, _USER_CUM)),
                "followers_count": int(rng.paretovariate(1.2) * 100),
            },
            "entities": {
                "hashtags": [{"text": h} for h in tags],
                "user_mentions": [{"screen_name": m} for m in mentions],
            },
        }
        if rng.random() < RETWEET_SHARE:
            oid = original_id(zipf_rank(rng, _ORIG_CUM))
            t["retweeted_status"] = {
                "id": oid,
                "extended_tweet": {"full_text": f"original {oid}"},
            }
        lines.append(_dumps(t))
    lines.append("not json at all")
    lines.append(_dumps({"id": _tweet_id(seed, index, n_tweets),
                         "text": "no timestamp"}))
    return lines, max_ts


def write_lines(path: str, lines: list[str]) -> int:
    """Write lines as one NDJSON file; returns its size in bytes."""
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _doc_text(rng: random.Random) -> list[str]:
    n = rng.randint(*DOC_TOKENS)
    return [f"w{zipf_rank(rng, _WORD_CUM)}" for _ in range(n)]


def document_files(
    seed: int, n_files: int, docs_per_file: int, dup_share: float
) -> list[tuple[list[str], list[int]]]:
    """``n_files`` document files. In each file, ``dup_share`` of the
    documents are planted near-duplicates of an earlier document (any
    earlier file or earlier in the same file; the first file's first
    document is never one). Returns [(lines, planted doc ids)] per file;
    doc ids are unique and increase with generation order, so a planted
    duplicate always has a larger id than its source."""
    rng = random.Random(f"docs:{seed}")
    texts: list[list[str]] = []
    out = []
    doc_id = (seed % 100_000) * 10_000_000
    for _ in range(n_files):
        lines, planted = [], []
        for _ in range(docs_per_file):
            if texts and rng.random() < dup_share:
                toks = list(rng.choice(texts))
                for _ in range(DUP_EDITS):
                    toks[rng.randrange(len(toks))] = f"x{rng.randrange(10**6)}"
                planted.append(doc_id)
            else:
                toks = _doc_text(rng)
            texts.append(toks)
            lines.append(_dumps({"doc_id": doc_id, "text": " ".join(toks)}))
            doc_id += 1
        out.append((lines, planted))
    return out
