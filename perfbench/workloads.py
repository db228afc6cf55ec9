"""Seeded workload generators for the benchmark.

Each workload is a pure function of (seed, size).  Its input is written
once per (workload, seed, size) under the cache directory as multi-file,
multi-row-group parquet (a real crawl is never one scan split), with the
ground truth beside it in ``truth.json``.  The same seed gives
byte-identical files.  The program under test only ever sees the parquet.

The generators are this directory's own, frozen with the benchmark: they
do not import the package's fixtures, so a later change to the package
cannot silently change what the benchmark measures.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import string

__all__ = ["SIZES", "WORKLOADS", "ensure_input", "input_dir"]

# rows per workload and size; "tiny" is for the smoke tests only
SIZES = {
    "crawl_dedup": {"tiny": 240, "default": 800},
    "boilerplate_skew": {"tiny": 360, "default": 1000},
    # (candidates, probes)
    "topk_lookup": {"tiny": (4000, 24), "default": (30_000, 240)},
}
WORKLOADS = tuple(SIZES)

N_FILES = 4
ROW_GROUPS_PER_FILE = 8
# bumped whenever a generator changes, so stale cached inputs are never read
GENERATOR_VERSION = 5

_LETTERS = string.ascii_lowercase
_LETTER_W = [1.0 / (i + 1) ** 0.6 for i in range(26)]
# astral-plane code point ranges: math script, emoji, CJK extension B
_ASTRAL = [(0x1D4D0, 0x1D503), (0x1F600, 0x1F64F), (0x20000, 0x2A6DF)]
_BOILER = [
    "all rights reserved copyright notice terms of service apply",
    "subscribe to our newsletter for weekly updates and offers",
    "cookie policy we use cookies to improve your experience",
]


def _vocab(rng: random.Random, size: int = 4000) -> list[str]:
    return [
        "".join(rng.choices(_LETTERS, weights=_LETTER_W, k=rng.randint(3, 10)))
        for _ in range(size)
    ]


def _astral_text(rng: random.Random, n_words: int) -> str:
    words = []
    for _ in range(n_words):
        lo, hi = rng.choice(_ASTRAL)
        words.append("".join(chr(rng.randint(lo, hi)) for _ in range(rng.randint(1, 4))))
    return " ".join(words)


def _perturb(words: list[str], rng: random.Random, vocab: list[str]) -> list[str]:
    """One near-duplicate edit: swap, delete/insert, substitute, add
    boilerplate, or an exact copy."""
    words = list(words)
    kind = rng.randint(0, 4)
    if kind == 0:
        for _ in range(rng.randint(1, 3)):
            if len(words) > 2:
                i = rng.randrange(len(words) - 1)
                words[i], words[i + 1] = words[i + 1], words[i]
    elif kind == 1:
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.5 and len(words) > 6:
                del words[rng.randrange(len(words))]
            else:
                words.insert(rng.randrange(len(words) + 1), rng.choice(vocab))
    elif kind == 2:
        for _ in range(rng.randint(1, max(1, len(words) // 50))):
            words[rng.randrange(len(words))] = rng.choice(vocab)
    elif kind == 3:
        extra = rng.choice(_BOILER).split()
        words = extra + words if rng.random() < 0.5 else words + extra
    return words


def _plant_clusters(
    rng: random.Random, vocab: list[str], n_rows: int, body_len
) -> tuple[list[list[str]], list[int | None], set]:
    """40% of rows in near-duplicate clusters whose sizes cycle through
    2..8, the rest unique, in a seeded order.  The counts are fixed by the
    size, so the work per call varies little from seed to seed."""
    sizes, n_clustered = [], 0
    while n_clustered + 2 <= int(0.4 * n_rows):
        size = min(2 + len(sizes) % 7, int(0.4 * n_rows) - n_clustered)
        sizes.append(size)
        n_clustered += size
    # lengths are drawn in a size-sorted order, so which body length goes
    # with which cluster size does not depend on the seed either
    segments = [(size, body_len(rng)) for size in sorted(sizes + [1] * (n_rows - n_clustered))]
    rng.shuffle(segments)
    texts: list[list[str]] = []
    cluster_of: list[int | None] = []
    pairs: set = set()
    for cid, (size, length) in enumerate(segments):
        i = len(texts)
        base = rng.choices(vocab, k=length)
        for j in range(size):
            texts.append(base if j == 0 else _perturb(base, rng, vocab))
            cluster_of.append(cid if size > 1 else None)
        pairs.update((a, b) for a in range(i, i + size) for b in range(a + 1, i + size))
    return texts, cluster_of, pairs


def _plant_substrings(
    rng: random.Random, texts: list[list[str]], uniques: list[int], n_sub: int
) -> set:
    """Embed a verbatim 200-250 char chunk of one unique doc in another."""
    pairs = set()
    rng.shuffle(uniques)
    for k in range(0, min(2 * n_sub, len(uniques) - 1), 2):
        src, dst = uniques[k], uniques[k + 1]
        src_text = " ".join(texts[src])
        if len(src_text) < 260:
            continue
        start = rng.randrange(0, len(src_text) - 250)
        chunk = src_text[start : start + rng.randint(200, 250)].split()
        at = rng.randrange(len(texts[dst]) + 1)
        texts[dst] = texts[dst][:at] + chunk + texts[dst][at:]
        pairs.add((min(src, dst), max(src, dst)))
    return pairs


def _cycle(lo: int, hi: int):
    """Body lengths stepping through [lo, hi] by a stride coprime with its
    width: the same multiset of lengths for every seed, so input bytes (and
    per-call work) vary little from seed to seed."""
    width = hi - lo + 1
    stride = next(s for s in range(int(width * 0.618), width) if math.gcd(s, width) == 1)
    k = [0]

    def length(_rng: random.Random) -> int:
        k[0] += 1
        return lo + (k[0] * stride) % width

    return length


def _crawl_dedup(seed: int, n_rows: int) -> tuple[list, dict]:
    rng = random.Random(seed)
    vocab = _vocab(rng)
    texts, cluster_of, pairs = _plant_clusters(rng, vocab, n_rows, _cycle(30, 600))
    uniques = [i for i, c in enumerate(cluster_of) if c is None]
    sub_pairs = _plant_substrings(rng, texts, list(uniques), int(n_rows * 0.03))
    in_sub = {i for p in sub_pairs for i in p}
    # a small share of unique, unlinked rows become empty or astral-plane
    # text (normalization maps astral text to empty).  Null text is left
    # out: the substring stage raises on it, and a workload must not fail.
    spare = [i for i in uniques if i not in in_sub]
    rng.shuffle(spare)
    n_odd = max(3, n_rows // 100)
    out: list = [" ".join(t) for t in texts]
    for j, i in enumerate(spare[:n_odd]):
        out[i] = _astral_text(rng, rng.randint(5, 40)) if j % 2 else ""
    return out, {"dup_pairs": sorted(pairs), "substring_pairs": sorted(sub_pairs)}


def _boilerplate_skew(seed: int, n_rows: int) -> tuple[list, dict]:
    """Template-wrapped pages: a few site templates (a short nav line plus
    footer blocks, each block shorter than the 200-char substring
    threshold and separated by per-page tokens, so no verbatim run of
    boilerplate reaches it) around unique bodies of mixed length, a few
    exact-copy mega-clusters far above the all-pairs cap, and
    near-duplicate clusters like the crawl."""
    rng = random.Random(seed)
    vocab = _vocab(rng)

    def block(n_words: int, max_chars: int) -> list[str]:
        words = rng.choices(vocab, k=n_words)
        while len(" ".join(words)) > max_chars:
            words.pop()
        return words

    templates = [
        (block(rng.randint(3, 6), 40), [block(20, 150) for _ in range(5)])
        for _ in range(6)
    ]

    def page(t: int, body: list[str]) -> str:
        nav, blocks = templates[t]
        # per-page ids (breadcrumbs, related links) keep a short body's
        # Jaro-Winkler prefix unique even though its shingles are mostly
        # boilerplate
        ids = [f"p{rng.randrange(10**9)}" for _ in range(12)]
        words = ids[:2] + body + ids[2:] + nav
        for b in blocks:
            words += [f"p{rng.randrange(10**9)}"] + b
        return " ".join(words)

    short, long = _cycle(8, 30), _cycle(40, 300)
    n_bodies = [0]

    def body_len(r: random.Random) -> int:
        # every fifth body stays under 256 chars
        n_bodies[0] += 1
        return short(r) if n_bodies[0] % 5 == 0 else long(r)

    # each mega-cluster is above DedupConfig.allpairs_cap (64) at every size
    n_mega = [70, 80, 90]
    n_rest = n_rows - sum(n_mega)
    bodies, cluster_of, pairs = _plant_clusters(rng, vocab, n_rest, body_len)
    # templates in turn; a near-dup cluster's pages share one template
    tmpl_of_cluster: dict = {}
    texts: list[str] = []
    for i, (body, c) in enumerate(zip(bodies, cluster_of)):
        t = i % len(templates) if c is None else tmpl_of_cluster.setdefault(c, i % len(templates))
        texts.append(page(t, body))
    for t, size in enumerate(n_mega):
        copy = page(t, rng.choices(vocab, k=60 * (t + 2)))
        start = len(texts)
        texts.extend([copy] * size)
        pairs.update(
            (a, b) for a in range(start, start + size) for b in range(a + 1, start + size)
        )
    return texts, {"dup_pairs": sorted(pairs), "substring_pairs": []}


def _topk_lookup(seed: int, size: tuple[int, int]) -> tuple[dict, dict]:
    """A word-list candidate set and perturbed probes, each probe planted
    from one candidate (its source)."""
    n_cands, n_probes = size
    rng = random.Random(seed)
    cands = [
        "".join(rng.choices(_LETTERS, weights=_LETTER_W, k=rng.randint(4, 15)))
        for _ in range(n_cands)
    ]
    probes, sources = [], []
    for _ in range(n_probes):
        src = rng.randrange(n_cands)
        chars = list(cands[src])
        # one substitution, deletion or adjacent transposition
        i = rng.randrange(len(chars) - 1)
        kind = rng.randint(0, 2)
        if kind == 0:
            chars[i] = rng.choice(_LETTERS)
        elif kind == 1:
            del chars[i]
        else:
            chars[i], chars[i + 1] = chars[i + 1], chars[i]
        probes.append("".join(chars))
        sources.append(src)
    return {"cands": cands, "probes": probes}, {"sources": sources}


def _permute(texts: list, truth: dict, seed: int) -> tuple[list, dict]:
    """Shuffle rows so duplicates are spread over files and row groups; doc
    ids are row positions after the shuffle."""
    order = list(range(len(texts)))
    random.Random(seed ^ 0x5EED).shuffle(order)
    new_id = {old: new for new, old in enumerate(order)}
    out = [texts[old] for old in order]
    remap = {
        k: sorted(tuple(sorted((new_id[a], new_id[b]))) for a, b in v)
        for k, v in truth.items()
    }
    return out, remap


def _write_table(path: str, columns: dict, schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    n = len(next(iter(columns.values())))
    per_file = -(-n // N_FILES)
    for f in range(N_FILES):
        lo, hi = f * per_file, min(n, (f + 1) * per_file)
        table = pa.table({k: v[lo:hi] for k, v in columns.items()}, schema=schema)
        pq.write_table(
            table,
            os.path.join(path, f"part-{f:02d}.parquet"),
            row_group_size=max(1, -(-(hi - lo) // ROW_GROUPS_PER_FILE)),
            compression="snappy",
        )


def input_dir(cache_root: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(cache_root, f"{workload}-{size}-s{seed}-g{GENERATOR_VERSION}")


def ensure_input(cache_root: str, workload: str, seed: int, size: str) -> str:
    """Generate the workload's input unless it is already cached; returns
    its directory.  Written to a temp dir and renamed, so an interrupted
    generation never leaves a partial input behind."""
    import pyarrow as pa

    out = input_dir(cache_root, workload, seed, size)
    if os.path.exists(os.path.join(out, "truth.json")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n = SIZES[workload][size]
    if workload == "topk_lookup":
        data, truth = _topk_lookup(seed, n)
        _write_table(
            os.path.join(tmp, "candidates"),
            {"cand_id": list(range(len(data["cands"]))), "cand_text": data["cands"]},
            pa.schema([("cand_id", pa.int64()), ("cand_text", pa.string())]),
        )
        _write_table(
            os.path.join(tmp, "probes"),
            {"probe_id": list(range(len(data["probes"]))), "probe_text": data["probes"]},
            pa.schema([("probe_id", pa.int64()), ("probe_text", pa.string())]),
        )
        truth["probe_text"] = data["probes"]
        truth["cand_bytes"] = sum(len(c.encode("utf-8")) for c in data["cands"])
    else:
        gen = _crawl_dedup if workload == "crawl_dedup" else _boilerplate_skew
        texts, truth = gen(seed, n)
        texts, truth = _permute(texts, truth, seed)
        _write_table(
            os.path.join(tmp, "docs"),
            {"doc_id": list(range(len(texts))), "text": texts},
            pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        truth["n_docs"] = len(texts)
        truth["text_bytes"] = sum(len(t.encode("utf-8")) for t in texts if t)
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
