"""Seeded input generators and their independent expected results,
which BenchMain checks each op against:

- `wc_zipf` writes the text files and derives the exact counts from its
  own raw-token -> normalized-word mapping (never from the engine); it
  returns the SHA-256 of the CLI output those counts imply;
- `documents` only builds the table; its expectation comes from the
  engine's DuckDB oracle SQL, run by `oracle_digest`.
"""
import hashlib
import os

import numpy as np

LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def random_words(rng, n, lo, hi, exclude=()):
    """`n` distinct lowercase ASCII words; the word of rank r has length
    lo + (7 r mod (hi - lo + 1)), so word lengths by rank (and with them
    the input size) are the same for every seed and only letters vary."""
    span = hi - lo + 1
    lengths = lo + (7 * np.arange(n)) % span
    assert n / span <= 0.5 * 26 ** lo, "too many words for the shortest length"
    out = [b""] * n
    seen = set(exclude)
    for ln in range(lo, hi + 1):
        slots = np.nonzero(lengths == ln)[0].tolist()
        while slots:
            k = len(slots)
            flat = LETTERS[rng.integers(0, 26, size=(k + 16) * ln)].tobytes()
            cands = (flat[i * ln:(i + 1) * ln] for i in range(k + 16))
            for w in cands:
                if w not in seen:
                    seen.add(w)
                    out[slots.pop()] = w
                    if not slots:
                        break
    return out


# ---------------------------------------------------------------- word count

# (weight, prefix, suffix, case) — every decoration normalizes back to the
# base word: edge bytes are ASCII punctuation or non-ASCII (both stripped
# by the reference's process_word), case is ASCII-only.
DECORATIONS = [
    (0.62, b"", b"", None),
    (0.10, b"", b"", "cap"),
    (0.03, b"", b"", "upper"),
    (0.07, b"", b",", None),
    (0.05, b"", b".", None),
    (0.03, b"(", b")", None),
    (0.03, b"\"", b"\",", "cap"),
    (0.03, b"\xe2\x80\x9c", b"\xe2\x80\x9d", None),  # curly quotes
    (0.02, b"", b"\xc3\xa9", None),                  # trailing e-acute bytes
    (0.02, b"--", b"!?", "upper"),
]
# tokens that normalize to the empty word and are dropped
PUNCT_ONLY = [b"--", b"...", b"\xe2\x80\x94", b"*", b"&", b"\xc2\xbf?"]
PUNCT_RATE = 0.015


def decorate(word, prefix, suffix, case):
    if case == "cap":
        word = word[:1].upper() + word[1:]
    elif case == "upper":
        word = word.upper()
    return prefix + word + suffix


def base_vocab(rng, n):
    """Base words: mostly letters; some carry interior punctuation or
    interior non-ASCII bytes, which normalization must keep."""
    words = random_words(rng, n, 3, 12)
    out = []
    marks = rng.random(n)
    for w, m in zip(words, marks.tolist()):
        if len(w) >= 4 and m < 0.02:
            w = w[:2] + b"'" + w[2:]
        elif len(w) >= 4 and m < 0.03:
            w = w[:2] + b"\xc3\xaf" + w[2:]
        out.append(w)
    assert len(set(out)) == len(out)
    return out


def word_count_corpus(rng, out_dir, label, n_tokens, vocab, probs, n_files):
    """Write `n_files` text files of `n_tokens` tokens drawn from `vocab`
    with `probs`, decorated; return the expected CLI output digest."""
    os.makedirs(out_dir, exist_ok=True)
    v = len(vocab)
    weights = np.array([d[0] for d in DECORATIONS])
    weights /= weights.sum()
    nd = len(DECORATIONS)
    cdf = np.cumsum(probs)
    cdf /= cdf[-1]
    word = np.searchsorted(cdf, rng.random(n_tokens), side="right")
    word = np.minimum(word, v - 1)
    deco = rng.choice(nd, size=n_tokens, p=weights)
    ids = word * nd + deco
    punct = rng.random(n_tokens) < PUNCT_RATE
    ids[punct] = v * nd + rng.integers(0, len(PUNCT_ONLY), size=int(punct.sum()))
    counts = np.bincount(word[~punct], minlength=v)
    # token bytes for each distinct (word, decoration) id: id = i * nd + j,
    # ids past v * nd are punctuation-only tokens
    uniq, inv = np.unique(ids, return_inverse=True)
    table = np.empty(len(uniq), dtype=object)
    table[:] = [PUNCT_ONLY[u - v * nd] if u >= v * nd
                else decorate(vocab[u // nd], *DECORATIONS[u % nd][1:])
                for u in uniq.tolist()]

    # separators: spaces, a few tabs and double spaces, a newline about
    # every 12 tokens (lines are the engine's input rows)
    sep_choices = np.array([b" ", b"\t", b"  ", b"\n"], dtype=object)
    sep = rng.choice(4, size=n_tokens, p=[0.895, 0.01, 0.01, 0.085])
    bounds = np.linspace(0, n_tokens, n_files + 1).astype(np.int64)
    for f in range(n_files):
        a, b = int(bounds[f]), int(bounds[f + 1])
        parts = np.empty(2 * (b - a), dtype=object)
        parts[0::2] = table[inv[a:b]]
        parts[1::2] = sep_choices[sep[a:b]]
        parts[-1] = b"\n"
        with open(os.path.join(out_dir, f"book{f:03d}.txt"), "wb") as fh:
            fh.write(b"".join(parts.tolist()))

    nz = np.nonzero(counts)[0]
    rows = sorted((vocab[i], int(counts[i])) for i in nz.tolist())
    total = int(counts.sum())
    out = [b"Filename: %s, total words: %d\n" % (label.encode(), total),
           b"Unique words found: %d\n" % len(rows)]
    out += [b"[%d] %s: %d\n" % (k, w, c) for k, (w, c) in enumerate(rows)]
    blob = b"".join(out)
    return {"label": label, "sha256": hashlib.sha256(blob).hexdigest(),
            "bytes": str(len(blob)), "total": str(total), "unique": str(len(rows))}


def wc_zipf(rng, out_dir, n_tokens, vocab_size, s=1.1, n_files=24):
    vocab = base_vocab(rng, vocab_size)
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    return word_count_corpus(rng, out_dir, "wc_zipf", n_tokens, vocab,
                             ranks ** -s, n_files)


# ---------------------------------------------------------------- documents

STOPWORDS = [b"the", b"a", b"an", b"and", b"or", b"of", b"to", b"in", b"is", b"it"]
LANGS = ["en", "de", "fr", "es", "zh"]


def documents(rng, n_docs, vocab_size=4000):
    """A documents table with the testdata schema (doc_id, text, lang,
    source, n_chars): Zipf vocabulary, per-doc stopword share (so the
    quality gate keeps a part), planted PII spans, near-duplicate
    families (doc-level drop) and shared-prefix families (chunk-level
    dedup). Family counts and the multiset of lengths and stopword
    shares are fixed; the seed only shuffles and fills them, so every
    seed yields the same amount of work. Returns a dict of columns."""
    vocab = [w.decode() for w in random_words(rng, vocab_size, 3, 9, exclude=STOPWORDS)]
    stops = [w.decode() for w in STOPWORDS]
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -1.1)
    cdf /= cdf[-1]
    q = (np.arange(n_docs) + 0.5) / n_docs
    lengths = rng.permutation(np.clip(np.exp(4.0 + 0.5 * _norm_ppf(q)), 4, 220).astype(int))
    stop_shares = rng.permutation(0.3 * q)
    # kinds: 0 fresh, 1 near-duplicate of an earlier doc, 2 shares its
    # first chunk with an earlier doc; 3 marks fresh docs with PII
    kinds = np.zeros(n_docs, dtype=int)
    late = rng.permutation(np.arange(21, n_docs))
    kinds[late[:n_docs // 10]] = 1
    kinds[late[n_docs // 10:n_docs // 10 + n_docs * 6 // 100]] = 2
    fresh = np.nonzero(kinds == 0)[0]
    kinds[rng.choice(fresh, size=n_docs * 15 // 100, replace=False)] = 3

    def draw(n):
        return [vocab[i] for i in np.minimum(np.searchsorted(cdf, rng.random(n)), vocab_size - 1).tolist()]

    texts = []
    for d in range(n_docs):
        if kinds[d] == 1:
            toks = texts[int(rng.integers(0, d))].split(" ")
            for _ in range(max(1, len(toks) // 60)):
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, vocab_size))]
        elif kinds[d] == 2:
            toks = texts[int(rng.integers(0, d))].split(" ")[:50] + draw(int(lengths[d]) // 2 + 10)
        else:
            n = int(lengths[d])
            is_stop = (rng.random(n) < stop_shares[d]).tolist()
            toks = [stops[int(rng.integers(0, 10))] if s else w
                    for w, s in zip(draw(n), is_stop)]
            if kinds[d] == 3:
                for k in range(1 + d % 2):
                    kind = (d // 2 + k) % 3
                    if kind == 0:
                        span = f"{vocab[int(rng.integers(0, 50))]}{int(rng.integers(0, 999))}@mail{int(rng.integers(0, 9))}.example.org"
                    elif kind == 1:
                        span = "10.%d.%d.%d" % tuple(int(x) for x in rng.integers(0, 256, size=3))
                    else:
                        span = "555-%03d-%04d" % (int(rng.integers(0, 1000)), int(rng.integers(0, 10000)))
                    toks.insert(int(rng.integers(0, len(toks) + 1)), span)
            if d % 5 == 0:
                toks[-1] = toks[-1] + "."
        texts.append(" ".join(toks))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[d % len(LANGS)] for d in rng.permutation(n_docs).tolist()],
        "source": [f"src{d % 20}" for d in rng.permutation(n_docs).tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _norm_ppf(q):
    """Standard normal quantiles (Acklam's rational approximation)."""
    a = [-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549671010975138e+00, 4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00]
    q = np.asarray(q, dtype=np.float64)
    out = np.empty_like(q)
    lo, hi = q < 0.02425, q > 1 - 0.02425
    mid = ~(lo | hi)
    r = q[mid] - 0.5
    t = r * r
    out[mid] = ((((((a[0] * t + a[1]) * t + a[2]) * t + a[3]) * t + a[4]) * t + a[5]) * r /
                (((((b[0] * t + b[1]) * t + b[2]) * t + b[3]) * t + b[4]) * t + 1))
    for mask, sign in ((lo, 1.0), (hi, -1.0)):
        t = np.sqrt(-2 * np.log(np.where(sign > 0, q[mask], 1 - q[mask])))
        out[mask] = sign * ((((((c[0] * t + c[1]) * t + c[2]) * t + c[3]) * t + c[4]) * t + c[5]) /
                            ((((d[0] * t + d[1]) * t + d[2]) * t + d[3]) * t + 1))
    return out


def write_documents(cols, path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table(cols), path)


def write_stream_batches(rng, cols, out_dir, n_batches):
    """The documents split into `n_batches` parquet files (seeded random
    assignment, so near-duplicate families span batches), each row with
    an in-window event time `ts`: the TTL never evicts, and the drained
    result equals the batch oracle's."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out_dir, exist_ok=True)
    n = len(cols["doc_id"])
    part = rng.integers(0, n_batches, size=n)
    ts = (1_700_000_000 + (cols["doc_id"] % 3600)) * 1_000_000
    table = pa.table(dict(cols, ts=pa.array(ts, type=pa.timestamp("us", tz="UTC"))))
    for b in range(n_batches):
        sel = np.nonzero(part == b)[0]
        pq.write_table(table.take(pa.array(sel)), os.path.join(out_dir, f"batch{b:02d}.parquet"))


def oracle_digest(sql, parquet_glob):
    """Run the engine's oracle SQL in DuckDB over the generated documents
    and digest the rows exactly as BenchMain.digestSink does."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT doc_id, text, lang, source, n_chars "
                f"FROM read_parquet('{parquet_glob}')")
    rows = con.execute(f"SELECT doc_id, chunk_idx, n_tokens, chunk_text FROM ({sql})").fetchall()
    con.close()
    total = 0
    for r in rows:
        line = "\x1f".join(str(x) for x in r).encode()
        total += int.from_bytes(hashlib.md5(line).digest()[:8], "big")
    total %= 1 << 64
    if total >= 1 << 63:
        total -= 1 << 64
    return {"rows": str(len(rows)), "digest": str(total)}
