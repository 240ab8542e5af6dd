"""Seeded input generators for the benchmark, written apart from the
program's own generators (`fluent_server_spark.data.synth`) so that the
expected outputs they carry are an independent computation.

* `turns(seed, n)`: a transcript-turns table in the documented input
  schema, with one hot conversation holding 30% of the turns, 2% malformed
  texts of three kinds, and each row labelled with the sink the documented
  first-match rule table sends it to.
* `docs(seed, n_singles)`: a document corpus with planted exact
  duplicates and near-duplicate clusters whose similarities sit far from
  the dedup thresholds (see `DOC_*` below).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# ------------------------------------------------------------------ turns
# The ordered route table of FIXTURES.md section 3 (first match wins,
# parse failures go to quarantine before any rule). Patterns: `*`, prefix
# `x*`, or a literal; the level pattern matches the parsed `level=` field.
RULES = [
    ("*", "*", "ERROR", "sink_errors"),
    ("tool", "*", "*", "sink_tool_calls"),
    ("*", "ba*", "*", "sink_tool_calls"),
    ("assistant", "sea*", "*", "sink_tool_calls"),
    ("user", "*", "*", "sink_user"),
    ("*", "*", "*", "sink_default"),
]
QUARANTINE = "sink_quarantine"
SINKS = sorted({r[3] for r in RULES} | {QUARANTINE})

ROLES = (["user", "assistant", "system", "tool"], [0.40, 0.40, 0.05, 0.15])
TOOLS = (["bash", "search", "read", "write", "none"], [0.2, 0.2, 0.15, 0.15, 0.3])
LEVELS = (["INFO", "WARN", "ERROR", "DEBUG"], [0.70, 0.15, 0.10, 0.05])
COMPONENTS = ["planner", "executor", "memory", "router", "critic"]
# some messages carry `key=value` text inside the quotes: the parser must
# not split them into fields
MESSAGES = [
    "step completed",
    "retry with level=2 backoff",
    "cache hit for prompt prefix",
    "tool output truncated at tokens=4096",
    "context window compacted",
    "handoff to subagent",
    "checkpoint written",
    "lookup miss fell back to default",
]
HOT_SHARE = 0.30
MALFORMED_SHARE = 0.02
EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _pick(rng, choices, n):
    values, probs = choices
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=probs)]


def _match(pattern: str, values: np.ndarray) -> np.ndarray:
    if pattern == "*":
        return np.ones(len(values), dtype=bool)
    if pattern.endswith("*"):
        return np.char.startswith(values.astype(str), pattern[:-1])
    return values == pattern


def expected_sinks(role, tool, level, malformed) -> np.ndarray:
    """First-match-wins labels from RULES; malformed rows -> quarantine."""
    out = np.full(len(role), "", dtype=object)
    open_ = ~malformed
    out[malformed] = QUARANTINE
    for role_p, tool_p, level_p, sink in RULES:
        hit = open_ & _match(role_p, role) & _match(tool_p, tool) & _match(level_p, level)
        out[hit] = sink
        open_ &= ~hit
    return out


def turns(seed: int, n: int, n_convs: int, conv_prefix: str = "c") -> pd.DataFrame:
    """Turns table plus the generator's own columns `expected_sink` and
    `malformed` (the benchmark drops them before handing rows over)."""
    rng = np.random.default_rng([seed, 1])
    n_hot = int(n * HOT_SHARE)
    conv = np.concatenate([np.zeros(n_hot, np.int64), rng.integers(1, n_convs, n - n_hot)])
    rng.shuffle(conv)
    turn_idx = pd.Series(conv).groupby(conv).cumcount().to_numpy().astype(np.int32)
    conv_id = np.array([f"{conv_prefix}{seed % 1000:03d}-{c:07d}" for c in conv], dtype=object)

    role = _pick(rng, ROLES, n)
    tool = np.where(np.isin(role, ["user", "system"]), "none", _pick(rng, TOOLS, n))
    level = _pick(rng, LEVELS, n)
    comp = np.asarray(COMPONENTS, dtype=object)[rng.integers(0, len(COMPONENTS), n)]
    msg = np.asarray(MESSAGES, dtype=object)[rng.integers(0, len(MESSAGES), n)]
    dur = rng.integers(0, 5000, n)
    tok = rng.integers(0, 800, n)
    text = np.array(
        [
            f'level={lv} component={c} msg="{m}" dur_ms={d} tokens={t}'
            for lv, c, m, d, t in zip(level, comp, msg, dur, tok)
        ],
        dtype=object,
    )
    malformed = rng.random(n) < MALFORMED_SHARE
    kinds = rng.integers(0, 3, n)
    for i in np.flatnonzero(malformed):
        if kinds[i] == 0:
            text[i] = f"?garbled frame {i}"
        elif kinds[i] == 1:  # truncated: the tokens field is missing
            text[i] = text[i].rsplit(" tokens=", 1)[0]
        else:  # non-numeric duration
            text[i] = text[i].replace(" dur_ms=", " dur_ms=x", 1)

    ts_us = EPOCH_US + conv * 60_000_000 + turn_idx.astype(np.int64) * 2_000_000
    ts_us = ts_us + rng.integers(0, 1_000_000, n)
    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": pd.to_datetime(ts_us, unit="us", utc=True),
            "expected_sink": expected_sinks(role, tool, level, malformed),
            "malformed": malformed,
        }
    )


# ------------------------------------------------------------------- docs
# Word 3-gram shingles, minhash LSH with 16 bands of 4 rows (candidate
# probability 1/2 at Jaccard ~0.5) and exact verification at 0.2.
# A near-duplicate variant differs from its cluster base by ONE word, so
# base-variant Jaccard is (m-3)/(m+3) >= 0.90 for m >= 58 shingles
# (candidate probability > 1 - 1e-7) and variant-variant Jaccard >= 0.81.
# Distinct documents draw words independently from a 4000-word vocabulary,
# so their Jaccard is below 0.02. Both sit far from 0.2 and 0.5.
DOC_WORDS = (60, 140)
VOCAB = 4000
DEDUP_THRESHOLD = 0.2


def _vocab(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words), dtype=object)


def docs(seed: int, n_singles: int) -> dict:
    """Corpus with plants. Returns a dict with the `doc_id`/`text` frame and
    the planted structure the checkers need: `words` (token list per doc),
    `singles` (per distinct single text, the ids of it and its byte copies)
    and `clusters` (the ids of each near-duplicate cluster)."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    cdf = np.cumsum(1.0 / (np.arange(VOCAB) + 10.0))
    cdf /= cdf[-1]
    gib = np.array(list("qxzjkv0123456789"))

    def draw(k: int) -> list[str]:
        return list(vocab[np.searchsorted(cdf, rng.random(k), side="right")])

    def length() -> int:
        return int(rng.integers(*DOC_WORDS))

    texts: list[list[str]] = []
    # distinct singles: mostly ordinary text, plus boilerplate (top-30 words
    # only: low perplexity) and gibberish (unseen tokens: high perplexity)
    for _ in range(n_singles):
        r = rng.random()
        if r < 0.05:
            texts.append(list(vocab[rng.integers(0, 30, length())]))
        elif r < 0.10:
            chars = gib[rng.integers(0, len(gib), (length(), 10))]
            texts.append(["".join(row) for row in chars])
        else:
            texts.append(draw(length()))
    # near-duplicate clusters: a base plus 1..4 one-word variants, each
    # edited at its own position (fixed counts, so every seed has the same
    # corpus size)
    n_clusters = n_singles // 20
    cluster_members: list[list[int]] = []
    for c in range(n_clusters):
        base = draw(length())
        members = [len(texts)]
        texts.append(base)
        k = 1 + c % 4
        for pos in rng.choice(len(base), k, replace=False):
            v = list(base)
            while v[pos] == base[pos]:
                v[pos] = vocab[rng.integers(0, VOCAB)]
            members.append(len(texts))
            texts.append(v)
        cluster_members.append(members)
    # exact copies of a tenth of the singles (1 or 2 copies each)
    single_groups = [[j] for j in range(n_singles)]
    for j, src in enumerate(rng.choice(n_singles, n_singles // 10, replace=False)):
        for _ in range(1 + j % 2):
            single_groups[src].append(len(texts))
            texts.append(texts[src])

    # random doc ids: cluster keepers and exact-dup keepers land anywhere
    order = rng.permutation(len(texts))  # order[j] = new id of doc j
    ids = order.astype(np.int64)
    frame = pd.DataFrame(
        {"doc_id": ids, "text": [" ".join(t) for t in texts]}
    ).sort_values("doc_id", kind="stable").reset_index(drop=True)
    words = {int(ids[j]): texts[j] for j in range(len(texts))}
    return {
        "frame": frame,
        "words": words,
        "singles": [[int(ids[j]) for j in g] for g in single_groups],
        "clusters": [[int(ids[j]) for j in m] for m in cluster_members],
    }
