"""Seeded input generators for the perfbench workloads.

One process, numpy only. The same (workload, seed, size) always yields the
same bytes; each generated input lands in its own cache directory together
with a content manifest (sha256 and size of every file), so a later run with
the same key reuses it after checking the hashes. The program under test only
ever sees the files listed in the manifest.
"""

import hashlib
import json
import os
import shutil

import numpy as np

GEN_VERSION = 1

# Word vocabulary shared by every workload: word i is the base-100 spelling
# of i in consonant-vowel syllables, so words are letters only (no regex or
# shell metacharacters) and unique.
_CONS = "bdfgklmnprstvz"
_VOW = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOW] + ["ka", "ro", "mi", "tu", "le", "sa",
                                               "no", "ve", "di", "pu", "zo", "fe",
                                               "gi", "bo", "ru", "ne", "ta", "li",
                                               "mo", "pe", "su", "va", "ko", "de",
                                               "ni", "go", "ba", "fi", "lu", "me"]
_SYL = list(dict.fromkeys(_SYL))  # 94 distinct syllables


def word(i):
    b = len(_SYL)
    s = [_SYL[i % b]]
    i //= b
    s.append(_SYL[i % b])
    i //= b
    while i:
        s.append(_SYL[i % b])
        i //= b
    return "".join(reversed(s))


VOCAB_SIZE = 20000
VOCAB = np.array([word(i) for i in range(VOCAB_SIZE)], dtype=object)


def zipf_sampler(rng, n_values, exponent):
    """Draws ranks 0..n_values-1 with P(r) proportional to 1/(r+1)^exponent."""
    w = 1.0 / np.arange(1, n_values + 1, dtype=np.float64) ** exponent
    cdf = np.cumsum(w)
    cdf /= cdf[-1]

    def draw(shape):
        return np.minimum(np.searchsorted(cdf, rng.random(shape), side="right"),
                          n_values - 1)
    return draw


# --- workload parameters --------------------------------------------------

# Log corpus of the fan-out workload: key \t category \t amount \t text.
LOG_PARAMS = {
    "keys": 5000, "key_zipf": 1.1,
    "categories": 64, "category_zipf": 1.2,
    "amount_max": 100,
    "words": 12, "word_zipf": 1.1,
    "parts": 8,
}

# Near-duplicate corpus: id \t text, with planted clusters.
DOC_PARAMS = {
    "tokens_min": 80, "tokens_max": 120, "word_zipf": 1.0,
    "cluster_share": 0.3,
    "cluster_min": 2, "cluster_max": 50, "cluster_size_zipf": 1.5,
    "edit_rate_max": 0.12,
    "shingle_n": 3, "tau": 0.7,
    "parts": 8,
}

# Records per workload; chosen so one job takes a few seconds on 4 cores.
SIZES = {"fanout": 100_000, "neardup_curate": 5_000}

CATEGORY_NAMES = [word(VOCAB_SIZE + 7 * i) for i in range(LOG_PARAMS["categories"])]

_WORKLOAD_TAG = {"fanout": 1, "neardup_curate": 3}


def _rng(workload, seed):
    return np.random.default_rng([int(seed), _WORKLOAD_TAG[workload], GEN_VERSION])


def log_lines(rng, n):
    p = LOG_PARAMS
    keys = zipf_sampler(rng, p["keys"], p["key_zipf"])(n)
    cats = zipf_sampler(rng, p["categories"], p["category_zipf"])(n)
    amounts = rng.integers(1, p["amount_max"] + 1, size=n)
    words = VOCAB[zipf_sampler(rng, VOCAB_SIZE, p["word_zipf"])((n, p["words"]))]
    cat_names = CATEGORY_NAMES
    return ["k%05d\t%s\t%d\t%s" % (k, cat_names[c], a, " ".join(w))
            for k, c, a, w in zip(keys.tolist(), cats.tolist(), amounts.tolist(),
                                  words.tolist())]


def neardup_docs(rng, n):
    """Returns (lines, clusters): clusters is a list of id lists, one per
    planted near-duplicate cluster. Each cluster member is its base document
    with every token replaced, independently, at the member's edit rate."""
    p = DOC_PARAMS
    draw_word = zipf_sampler(rng, VOCAB_SIZE, p["word_zipf"])
    lengths = rng.integers(p["tokens_min"], p["tokens_max"] + 1, size=n)
    sizes_draw = zipf_sampler(rng, p["cluster_max"] - p["cluster_min"] + 1,
                              p["cluster_size_zipf"])
    docs = []
    cluster_slots = []
    budget = int(n * p["cluster_share"])
    while budget >= p["cluster_min"]:
        size = min(int(sizes_draw(1)[0]) + p["cluster_min"], budget)
        base = draw_word(int(lengths[len(docs)]))
        members = [len(docs)]
        docs.append(base)
        for _ in range(size - 1):
            rate = rng.random() * p["edit_rate_max"]
            edited = base.copy()
            mask = rng.random(base.shape[0]) < rate
            edited[mask] = draw_word(int(mask.sum()))
            members.append(len(docs))
            docs.append(edited)
        cluster_slots.append(members)
        budget -= size
    while len(docs) < n:
        docs.append(draw_word(int(lengths[len(docs)])))
    # ids are a permutation, so cluster members are not adjacent in the file
    ids = rng.permutation(n)
    order = np.argsort(ids)  # write documents in id order
    lines = ["%d\t%s" % (i, " ".join(VOCAB[docs[slot]].tolist()))
             for i, slot in zip(ids[order].tolist(), order.tolist())]
    clusters = [[int(ids[s]) for s in members] for members in cluster_slots]
    return lines, clusters


def shingles(text, n):
    """graft.text.TextOps.wordNgrams(tokens(text), n) as a set: lowercase,
    split on whitespace, distinct space-joined n-grams."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def round_half_up(x, places=4):
    q = 10 ** places
    return int(x * q + 0.5) / q


def jaccard4(a, b):
    """Jaccard rounded half-up to 4 places, as MinHashLSH.nearDuplicates."""
    return round_half_up(len(a & b) / len(a | b))


def true_pairs(lines, clusters):
    """Planted pairs (id_a < id_b) whose rounded Jaccard is at least tau,
    and the number of planted pairs."""
    p = DOC_PARAMS
    by_id = {}
    for line in lines:
        i, t = line.split("\t", 1)
        by_id[int(i)] = t
    pairs = []
    planted = 0
    for members in clusters:
        sh = {m: shingles(by_id[m], p["shingle_n"]) for m in members}
        ms = sorted(members)
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                planted += 1
                if jaccard4(sh[ms[x]], sh[ms[y]]) >= p["tau"]:
                    pairs.append((ms[x], ms[y]))
    return pairs, planted


# --- cache ------------------------------------------------------------------

def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _write_parts(dirpath, lines, parts):
    os.makedirs(dirpath)
    bounds = np.linspace(0, len(lines), parts + 1).astype(int)
    for i in range(parts):
        with open(os.path.join(dirpath, "part-%05d.txt" % i), "w",
                  encoding="utf-8", newline="\n") as f:
            f.write("\n".join(lines[bounds[i]:bounds[i + 1]]))
            f.write("\n")


def generate(workload, seed, size, dest):
    """Writes the input for (workload, seed, size) under dest/ and returns the
    manifest dict (also written to dest/manifest.json)."""
    rng = _rng(workload, seed)
    extra = {}
    if workload == "fanout":
        lines = log_lines(rng, size)
        params = LOG_PARAMS
    elif workload == "neardup_curate":
        lines, clusters = neardup_docs(rng, size)
        pairs, planted = true_pairs(lines, clusters)
        params = DOC_PARAMS
        extra = {"clusters": len(clusters),
                 "clustered_docs": sum(len(c) for c in clusters),
                 "planted_pairs": planted, "true_pairs": len(pairs)}
    else:
        raise ValueError("unknown workload %r" % workload)
    _write_parts(os.path.join(dest, "input"), lines, params["parts"])
    if workload == "neardup_curate":
        np.save(os.path.join(dest, "true_pairs.npy"),
                np.array(pairs, dtype=np.int64).reshape(-1, 2))
    files = {}
    for root, _, names in os.walk(dest):
        for name in sorted(names):
            full = os.path.join(root, name)
            rel = os.path.relpath(full, dest)
            files[rel] = {"bytes": os.path.getsize(full), "sha256": _sha256(full)}
    manifest = {
        "generator_version": GEN_VERSION, "workload": workload, "seed": int(seed),
        "records": len(lines), "params": params, "files": files,
        "input_bytes": sum(v["bytes"] for k, v in files.items()
                           if k.startswith("input" + os.sep)),
        **extra,
    }
    with open(os.path.join(dest, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _valid(dest):
    try:
        with open(os.path.join(dest, "manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    for rel, meta in manifest["files"].items():
        full = os.path.join(dest, rel)
        if not os.path.isfile(full) or os.path.getsize(full) != meta["bytes"] \
                or _sha256(full) != meta["sha256"]:
            return None
    return manifest


def cached_input(cache_root, workload, seed, size=None, keep=12):
    """Returns (directory, manifest) of the input for (workload, seed, size),
    generating it when the cache holds no valid copy. At most `keep` inputs
    stay cached; the least recently used go first."""
    size = SIZES[workload] if size is None else size
    key = "%s-s%d-n%d-v%d" % (workload, seed, size, GEN_VERSION)
    dest = os.path.join(cache_root, key)
    manifest = _valid(dest)
    if manifest is None:
        shutil.rmtree(dest, ignore_errors=True)
        tmp = dest + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        generate(workload, seed, size, tmp)
        os.replace(tmp, dest)
        manifest = _valid(dest)
    os.utime(dest)
    entries = sorted((e for e in os.scandir(cache_root) if e.is_dir() and ".tmp" not in e.name),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old.path, ignore_errors=True)
    return dest, manifest
