"""Seeded input generators for the benchmark workloads.

Every generator takes a numpy Generator built from the run's seed and
an output directory, writes the files the program under test reads, and
returns (props, expected): `props` describes the input (bytes, files,
rows, distinct keys, skew, duplicate rates) and goes into the result;
`expected` is what the checks compare against, or None when the check
is the DuckDB oracle over the generated tables.
"""
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- mr_text --------------------------------------------------------------

TEXT_FILES = 160            # one wholeTextFiles record per file
TEXT_TOKENS_PER_FILE = 3000
VOCAB = 30000
ZIPF_S = 1.1                # word rank r has weight 1 / r**ZIPF_S
CREDIT_FILES = 16
CREDIT_ROWS_PER_FILE = 4000
AGENCIES = ["Equifax", "Experian", "TransUnion", "Yellow Banana"]
# ASCII plus a few non-ASCII letters: the MR apps split on \P{L}, so
# both must survive tokenization as word characters
LETTERS = list("abcdefghijklmnopqrstuvwxyz") + list("éßøñ")
SEPARATORS = [" "] * 12 + ["\n", ", ", ". ", " 42 ", " - "]


def _vocab(rng, n):
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 11))
        w = "".join(rng.choice(LETTERS, size=k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _word(j):
    """The j-th word of a fixed letters-only vocabulary (base 26, >= 4 letters)."""
    j += 26 ** 3
    w = ""
    while j:
        j, r = divmod(j, 26)
        w = chr(97 + r) + w
    return w


def gen_mr_text(rng, out):
    text_dir, credit_dir = os.path.join(out, "text"), os.path.join(out, "credit")
    os.makedirs(text_dir)
    os.makedirs(credit_dir)
    words = _vocab(rng, VOCAB)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    wc = np.zeros(VOCAB, dtype=np.int64)
    docs = [[] for _ in range(VOCAB)]
    n_bytes = 0
    for f in range(TEXT_FILES):
        name = f"pg-{f:04d}.txt"
        ids = rng.choice(VOCAB, size=TEXT_TOKENS_PER_FILE, p=p)
        seps = rng.choice(SEPARATORS, size=TEXT_TOKENS_PER_FILE)
        body = "".join(words[i] + s for i, s in zip(ids, seps))
        data = body.encode("utf-8")
        with open(os.path.join(text_dir, name), "wb") as fh:
            fh.write(data)
        n_bytes += len(data)
        wc += np.bincount(ids, minlength=VOCAB)
        for i in np.unique(ids):
            docs[i].append(name)
    used = np.nonzero(wc)[0]
    expected_wc = {words[i]: str(wc[i]) for i in used}
    # the indexer's reduce sorts doc names; files are written in sorted order
    expected_idx = {words[i]: f"{len(docs[i])} {','.join(docs[i])}" for i in used}

    credit = Counter()
    credit_bytes = 0
    uid = 0
    for f in range(CREDIT_FILES):
        n = CREDIT_ROWS_PER_FILE
        agency = rng.integers(0, len(AGENCIES), size=n)
        year = rng.integers(2020, 2025, size=n)
        score = rng.integers(200, 851, size=n)
        bad = rng.random(size=n) < 0.01       # malformed rows the app skips
        lines = ["user_id,agency,year,credit_score"]
        for j in range(n):
            uid += 1
            if bad[j]:
                lines.append(f"{uid},{AGENCIES[agency[j]]},year?,{score[j]}")
                continue
            lines.append(f"{uid},{AGENCIES[agency[j]]},{year[j]},{score[j]}")
            if year[j] == 2023 and score[j] > 400:
                credit[AGENCIES[agency[j]]] += 1
        data = ("\n".join(lines) + "\n").encode()
        with open(os.path.join(credit_dir, f"credit-{f:03d}.csv"), "wb") as fh:
            fh.write(data)
        credit_bytes += len(data)

    props = {
        "text_bytes": n_bytes, "text_files": TEXT_FILES,
        "text_tokens": TEXT_FILES * TEXT_TOKENS_PER_FILE,
        "vocab": VOCAB, "distinct_words": len(used), "zipf_s": ZIPF_S,
        "top_word_share": round(float(wc.max() / wc.sum()), 4),
        "credit_bytes": credit_bytes, "credit_files": CREDIT_FILES,
        "credit_rows": CREDIT_FILES * CREDIT_ROWS_PER_FILE,
        "credit_keys": len(credit),
    }
    expected = {"wc": expected_wc, "indexer": expected_idx,
                "credit": {k: str(v) for k, v in credit.items()}}
    return props, expected


def _write(out, name, cols):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"), compression="snappy")
    return t.num_rows


# ---- corpus_curation ------------------------------------------------------

DOCS = 2000
DOC_VOCAB = 200000      # uniform: two unrelated documents share almost no words
EXACT_DUP_RATE = 0.04   # share of documents that copy an original text exactly
NEAR_DUP_RATE = 0.10    # share that copy an original with one or two words changed
# Duplicates copy originals only, never other duplicates, so every
# duplicate cluster is a star; with the large vocabulary, unrelated
# documents almost never share an LSH band, so the connected-components
# rounds do not depend on the seed.


def gen_corpus_curation(rng, out):
    os.makedirs(out)
    vocab = [_word(j) for j in range(DOC_VOCAB)]
    texts, originals, kinds = [], [], rng.random(DOCS)
    n_exact = n_near = 0
    for i in range(DOCS):
        if originals and kinds[i] < EXACT_DUP_RATE:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            n_exact += 1
        elif originals and kinds[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            w = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, DOC_VOCAB))]
            texts.append(" ".join(w))
            n_near += 1
        else:
            ids = rng.integers(0, DOC_VOCAB, int(rng.integers(20, 81)))
            texts.append(" ".join(vocab[j] for j in ids))
            originals.append(i)
    lang = rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], DOCS)
    _write(out, "documents", {
        "doc_id": np.arange(DOCS, dtype=np.int64), "text": texts,
        "lang": lang, "source": [f"src{i}" for i in rng.integers(0, 20, DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    props = {
        "bytes": os.path.getsize(os.path.join(out, "documents.parquet")),
        "files": 1, "rows": DOCS, "distinct_texts": len(set(texts)),
        "vocab": DOC_VOCAB, "exact_dup_rate": EXACT_DUP_RATE,
        "near_dup_rate": NEAR_DUP_RATE, "exact_dups": n_exact, "near_dups": n_near,
    }
    return props, None


GENERATORS = {"mr_text": gen_mr_text, "corpus_curation": gen_corpus_curation}


def generate(workload, seed, out):
    """Writes `workload`'s inputs for `seed` under `out`."""
    return GENERATORS[workload](np.random.default_rng(seed), out)
