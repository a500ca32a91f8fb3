"""Seeded word-count corpus generator for the wc_* workloads.

Single process, single thread; the seed is an argument. Every token is
built from a known normalized core plus decorations that the word-count
pipeline's normalize removes (case, punctuation, a BOM at file start, the
CR of CRLF line ends, double spaces), so the expected (word, count) table
is known by construction. The generator never calls the program's
normalize.

Files are UTF-8 with a BOM and CRLF line endings, like the reference
corpus. The corpus is NOT the reference corpus: it is a Zipf(1) draw over
a generated vocabulary, sized so that a job is dominated by pipeline work.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np

# Bump when the layout or the decoration rules change, so cached corpora
# are regenerated.
FORMAT = 8

# Vocabulary words use only these letters; unique identifiers start with
# 'q', which no vocabulary word contains, so the two sets never collide.
CONSONANTS = "bcdfghklmnprst"
VOWELS = "aeiou"

# Decorations: every prefix and suffix is free of ASCII letters, so the
# program's normalize (ASCII lowercase, then strip non-[a-z] from both
# ends of a token that holds a letter) maps a decorated word to its core.
PREFIXES = ['"', "(", "'", "--", "_", "“", "‘", "["]
SUFFIXES = [",", ".", ";", ":", "!", "?", '"', ")", "'", "--", "...",
            "”", "’", "—", ".)", "],", "1"]
# All-non-alpha tokens: normalize keeps them verbatim.
NON_ALPHA = ["1984", "--", "...", "42", "3.14", "*", "&", "12:30",
             "1,000", "#7", "—", "(1)", "2024-01-02", "%", "100%",
             "§", "0"]

PROFILES = {
    # tokens: total tokens; unique_frac: share of tokens that are unique
    # identifiers (each counts once).
    "zipf": {"files": 130, "vocab": 50000, "tokens": 5_000_000,
             "unique_frac": 0.0},
    "highcard": {"files": 130, "vocab": 50000, "tokens": 2_000_000,
                 "unique_frac": 0.5},
}


def _vocabulary(rng, n):
    """n distinct lowercase words; about 2% carry a possessive 's."""
    words, seen = [], set()
    while len(words) < n:
        m = 2 * (n - len(words))
        syl = rng.integers(1, 5, size=m).tolist()
        cons = rng.integers(0, len(CONSONANTS), size=(m, 5)).tolist()
        vows = rng.integers(0, len(VOWELS), size=(m, 4)).tolist()
        tail = (rng.random(m) < 0.3).tolist()
        poss = (rng.random(m) < 0.02).tolist()
        for i in range(m):
            c, v = cons[i], vows[i]
            w = "".join(CONSONANTS[c[j]] + VOWELS[v[j]] for j in range(syl[i]))
            if tail[i]:
                w += CONSONANTS[c[4]]
            if poss[i]:
                w += "'s"
            if w not in seen and len(words) < n:
                seen.add(w)
                words.append(w)
    return words


def decorate(word, kind, pick):
    """One surface form of `word` that normalizes back to `word`; `pick`
    chooses the punctuation.

    kind: 0 plain, 1 Capitalised, 2 UPPER, 3 suffix, 4 prefix, 5 both,
    6 Capitalised with suffix.
    """
    pre = PREFIXES[pick % len(PREFIXES)]
    suf = SUFFIXES[pick % len(SUFFIXES)]
    cap = word[0].upper() + word[1:]
    return (word, cap, word.upper(), word + suf, pre + word, pre + word + suf,
            cap + suf)[kind]


KINDS = 7
KIND_P = [0.70, 0.12, 0.02, 0.09, 0.03, 0.02, 0.02]


def generate(out_dir, seed, files, vocab, tokens, unique_frac,
             non_alpha_frac=0.02, double_space_frac=0.01):
    """Write the corpus under out_dir/files and return the expectation:
    counted tokens, distinct normalized words, the order-insensitive
    digest of the (word, count) table, and tokens per file. Without unique
    identifiers, per-file counts go to per_file.npy and columns.txt."""
    rng = np.random.Generator(np.random.PCG64(seed))
    # Shorter words get the higher ranks, as in natural text; it also
    # keeps the corpus's byte size nearly the same from seed to seed.
    words = sorted(_vocabulary(rng, vocab), key=len)
    n_unique = int(tokens * unique_frac)
    n_vocab = tokens - n_unique

    # Zipf(1) draw over the vocabulary by inverse CDF.
    cum = np.cumsum(1.0 / np.arange(1, vocab + 1))
    ids = np.searchsorted(cum, rng.random(n_vocab) * cum[-1], side="right")
    ids = np.minimum(ids, vocab - 1)
    # Unique identifiers get ids vocab, vocab+1, ...; interleave them with
    # the vocabulary draw at random positions.
    if n_unique:
        ids = np.concatenate([ids, np.arange(vocab, vocab + n_unique)])
        ids = ids[rng.permutation(len(ids))]
    kinds = rng.choice(KINDS, size=tokens, p=KIND_P)

    # Surface table for vocabulary words: every (word, kind), each with
    # its own punctuation.
    surf = np.array([decorate(w, k, w_i * 31 + k * 7)
                     for w_i, w in enumerate(words) for k in range(KINDS)],
                    dtype=object)
    in_vocab = ids < vocab
    toks = np.empty(tokens, dtype=object)
    toks[in_vocab] = surf[ids[in_vocab] * KINDS + kinds[in_vocab]]
    counts = {}
    if n_unique:
        # Unique ids: 'q' + six base-26 letters of an offset counter; about
        # one in eight is capitalised.
        width = 6
        offset = int(rng.integers(0, 26 ** width - n_unique))
        u_pos = np.nonzero(~in_vocab)[0]
        vals = offset + ids[u_pos] - vocab
        letters = np.empty((len(u_pos), width + 1), dtype=np.uint8)
        letters[:, 0] = ord("q")
        for k in range(width):
            letters[:, width - k] = 97 + (vals // 26 ** k) % 26
        cores = letters.view("S%d" % (width + 1)).ravel().astype("U").tolist()
        letters[rng.random(len(u_pos)) < 0.125, 0] = ord("Q")
        toks[u_pos] = letters.view("S%d" % (width + 1)).ravel().astype("U").tolist()
        counts = dict.fromkeys(cores, 1)

    # Line layout: lengths 6..17 tokens.
    ends = np.cumsum(rng.integers(6, 18, size=tokens // 6 + 1))
    ends = np.append(ends[ends < tokens], tokens)
    starts = np.concatenate([[0], ends[:-1]])
    line_lens = ends - starts

    per_file = np.array_split(np.arange(len(line_lens)), files)

    # All-non-alpha tokens replace vocabulary tokens at positions that are
    # neither a line's last token (so a kept CR can never reach them) nor
    # a file's first token (so the BOM always leads an alpha word).
    edge = np.zeros(tokens, dtype=bool)
    edge[ends - 1] = True
    edge[[int(starts[ls[0]]) for ls in per_file if ls.size]] = True
    na_draw = rng.random(tokens) < non_alpha_frac
    na_pos = np.nonzero(na_draw & in_vocab & ~edge)[0]
    na_pick = rng.integers(0, len(NON_ALPHA), size=len(na_pos))
    na_counts = np.bincount(na_pick, minlength=len(NON_ALPHA))
    toks[na_pos] = np.array(NON_ALPHA, dtype=object)[na_pick]
    keep_vocab = in_vocab.copy()
    keep_vocab[na_pos] = False
    vocab_counts = np.bincount(ids[keep_vocab], minlength=vocab)[:vocab]
    if not n_unique:
        # Per-file counts over (vocabulary + NON_ALPHA), so a stream that
        # stops after any number of files can be checked.
        file_of = np.repeat(np.arange(files), [
            int(ends[ls[-1]] - starts[ls[0]]) for ls in per_file])
        cols = vocab + len(NON_ALPHA)
        code = np.zeros(tokens, dtype=np.int64)
        code[keep_vocab] = ids[keep_vocab]
        code[na_pos] = vocab + na_pick
        per = np.bincount(file_of * cols + code, minlength=files * cols)
        np.save(os.path.join(out_dir, "per_file.npy"),
                per.reshape(files, cols).astype(np.int32))
        with open(os.path.join(out_dir, "columns.txt"), "w",
                  encoding="utf-8", newline="\n") as fh:
            fh.write("\n".join(words + NON_ALPHA) + "\n")
    for w, c in zip(words, vocab_counts.tolist()):
        if c:
            counts[w] = c
    for t, c in zip(NON_ALPHA, na_counts.tolist()):
        if c:
            counts[t] = c

    # Separators: a space, a CRLF after a line's last token, and now and
    # then a double space (an empty token) inside a line.
    sep = np.full(tokens, " ", dtype=object)
    sep[rng.random(tokens) < double_space_frac] = "  "
    sep[ends - 1] = "\r\n"
    stream = np.empty(2 * tokens, dtype=object)
    stream[0::2] = toks
    stream[1::2] = sep
    files_dir = os.path.join(out_dir, "files")
    os.makedirs(files_dir)
    file_tokens = []
    for f_i, lines in enumerate(per_file):
        a, b = int(starts[lines[0]]), int(ends[lines[-1]])
        file_tokens.append(b - a)
        text = "\ufeff" + "".join(stream[2 * a:2 * b].tolist())
        with open(os.path.join(files_dir, "chunk_%03d.txt" % f_i), "wb") as fh:
            fh.write(text.encode("utf-8"))

    exp = {"tokens": int(sum(counts.values())), "distinct": len(counts),
           "digest": digest(counts.items()), "files": files,
           "file_tokens": file_tokens,
           "bytes": sum(os.path.getsize(os.path.join(files_dir, f))
                        for f in os.listdir(files_dir))}
    return exp


def line_hash(word, count):
    h = hashlib.blake2b(("%s %d" % (word, count)).encode("utf-8"),
                        digest_size=8).digest()
    return int.from_bytes(h, "little")


def digest(pairs):
    """Order-insensitive digest of (word, count) pairs: the sum of the
    64-bit hashes of the sink lines "word count", mod 2^64."""
    s = 0
    for w, c in pairs:
        s = (s + line_hash(w, c)) & 0xFFFFFFFFFFFFFFFF
    return "%016x" % s


def delivered_digest(corpus_dir, deliveries):
    """(tokens, distinct, digest) expected after files[i] was delivered
    deliveries[i] times (files in name order)."""
    per = np.load(os.path.join(corpus_dir, "per_file.npy"))
    with open(os.path.join(corpus_dir, "columns.txt"), encoding="utf-8",
              newline="\n") as fh:
        cols = fh.read().split("\n")[:-1]
    total = np.asarray(deliveries, dtype=np.int64) @ per
    pairs = [(cols[i], int(c)) for i, c in enumerate(total.tolist()) if c]
    return sum(c for _, c in pairs), len(pairs), digest(pairs)


def cached(root, name, params, make):
    """Builds an input set once per (name, params) under root: make(dir)
    writes it and returns its expectation. Returns (dir, expectation,
    seconds spent building; 0 when reused)."""
    key = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(root, "%s-%d-%s" % (name, params["seed"], key))
    meta = os.path.join(d, "expected.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return d, json.load(fh), 0.0
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    exp = make(tmp)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(exp, fh)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, exp, gen_s


def ensure(root, profile, seed):
    """The corpus of `profile` for `seed`, generated once under root."""
    p = PROFILES[profile]
    return cached(root, profile, dict(p, format=FORMAT, seed=seed),
                  lambda d: generate(d, seed, **p))
