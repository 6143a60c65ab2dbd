"""Seeded inputs for the benchmark: a code-search corpus and a request mix.

Everything here is a pure function of the seed (numpy ``default_rng``), so
the same seed gives a byte-identical corpus and mix on any machine. The
program under test only ever sees the generated documents and requests.

Corpus: documents drawn from ``librecatastro_spark.corpus``, the generator
``bench.py`` uses: its vocabulary (code keywords, then the ``idNNNN``
tail), its zipf token distribution and languages, and two ultra-rare
``uidNNNNN`` tokens per document from its uid space. Two things differ:

* the draws: ``corpus.generate_corpus`` runs inside a Spark job and needs
  a shuffle to assign ids, while these are numpy draws, so the corpus and
  mix exist before the Spark session starts (set-up time holds no
  generation), the self-tests need no Spark, and an append batch or an
  update gets fresh documents for given ids from its own stream;
* the document length: 40-260 tokens instead of 50-2000, so that a run's
  index build and its ``ExactBM25`` checks, whose cost grows with the
  token count, fit the benchmark's time budget (README.md, "Corpus size").

Columns match what the index builder consumes: ``doc_id, repo, path,
lang, content, content_sha256``.

Mix: a pool of distinct requests over ten weighted shapes, and a request
stream that interleaves the shapes by weight and draws each slot's pool
entry zipf-skewed by popularity, so hot requests repeat the way a query
log does. Where each weight comes from is stated beside it; the values
marked ASSUMPTION have no measured source.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from librecatastro_spark import corpus

VOCAB = corpus.VOCAB.tolist()
KEYWORDS = VOCAB[: len(VOCAB) - corpus._N_RARE]
LANGS = corpus.LANGS
MIN_TOKENS, MAX_TOKENS = 40, 260
UID_SPACE = 50_000  # corpus.generate_corpus draws its uids from 0..49999
N_MODS = 23  # corpus.generate_corpus's src/modN/ directories

#: request shapes and their weights in the mix. Each shape weighs as many
#: queries as bench.py times for it on the serving fast path: QUERIES gives
#: three OR (q_match_hot, _mixed, _rare), two AND (q_bool_must,
#: q_must_selective) and one each of must_not, lang filter, path prefix
#: and k=100; its positional block two phrases (def return, id0042 merge),
#: one phrase prefix (def re) and one fuzzy term (brodcast).
#: ASSUMPTION: bench.py times no search_after page; it weighs as one query.
SHAPE_QUERIES = {
    "or": 3,
    "and": 2,
    "lang": 1,
    "prefix": 1,
    "must_not": 1,
    "k100": 1,
    "page2": 1,
    "phrase": 2,
    "phrase_prefix": 1,
    "fuzzy": 1,
}
SHAPES = {s: n / sum(SHAPE_QUERIES.values()) for s, n in SHAPE_QUERIES.items()}
#: ASSUMPTION: share of query terms that are a uid from the corpus rather
#: than a vocabulary term. No code-search query log was available; 0.1
#: keeps the selective tail present in every run without dominating it.
UID_SHARE = 0.1
POOL_SIZE = 800
STREAM_LEN = 20_000
#: ASSUMPTION: zipf exponent of request popularity in the stream, chosen
#: so that a run of a few hundred requests repeats 0.2-0.4 of them; no
#: query log was available to fit it.
STREAM_ZIPF_S = 0.8


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    c = np.cumsum(w)
    return c / c[-1]


def make_docs(seed: int, start: int, n: int, stream: int = 0) -> pd.DataFrame:
    """``n`` documents with doc_ids ``start .. start+n-1``. ``stream``
    separates independent draws for the same ids (an update's new
    version of a document, a later append batch)."""
    rng = np.random.default_rng([seed, stream, start])
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n)
    words = corpus.VOCAB[np.searchsorted(corpus._CDF, rng.random(int(lengths.sum())))]
    uids = rng.integers(0, UID_SPACE, size=(n, 2))
    mods = rng.integers(0, N_MODS, size=n)
    lang_ix = rng.integers(0, len(LANGS), size=n)
    repos = rng.integers(0, 53, size=n)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    rows = []
    for m in range(n):
        doc_id = start + m
        body = " ".join(words[bounds[m]:bounds[m + 1]])
        content = f"{body} uid{uids[m, 0]:05d} uid{uids[m, 1]:05d}"
        lang = LANGS[lang_ix[m]]
        rows.append((
            doc_id,
            f"org{repos[m] % 7}/repo{repos[m]}",
            f"src/mod{mods[m]}/file{doc_id}.{lang}",
            lang,
            content,
            hashlib.sha256(content.encode()).hexdigest(),
        ))
    return pd.DataFrame(
        rows, columns=["doc_id", "repo", "path", "lang", "content", "content_sha256"]
    )


def input_bytes(docs: pd.DataFrame) -> int:
    """Uncompressed input size: UTF-8 bytes of every string column plus
    8 bytes per doc_id."""
    total = 8 * len(docs)
    for col in ("repo", "path", "lang", "content", "content_sha256"):
        total += int(docs[col].str.len().sum())
    return total


# ------------------------------------------------------------------ mix --

def _edit(term: str, rng: np.random.Generator) -> str:
    """One Levenshtein substitution that keeps the token a single analyzed
    term (lowercase letters and digits only)."""
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    i = int(rng.integers(0, len(term)))
    c = alphabet[int(rng.integers(0, len(alphabet)))]
    if c == term[i]:
        c = alphabet[(alphabet.index(c) + 1) % len(alphabet)]
    return term[:i] + c + term[i + 1:]


def make_pool(seed: int, docs: pd.DataFrame) -> list[dict]:
    """``POOL_SIZE`` distinct requests. A request is a dict with ``shape``,
    ``text``, ``k`` and the keyword arguments its shape takes. Query terms
    follow the corpus's own token distribution (zipf over its vocabulary,
    ``idNNNN`` tail included), with a ``UID_SHARE`` drawn from the uids the
    corpus actually holds."""
    rng = np.random.default_rng([seed, 0xB00])
    uids = sorted(set(" ".join(docs["content"].str[-17:]).split()))
    langs = sorted(set(docs["lang"]))
    contents = docs["content"].to_numpy()

    def term(rare_share: float = UID_SHARE) -> str:
        if rng.random() < rare_share:
            return uids[int(rng.integers(0, len(uids)))]
        return VOCAB[int(np.searchsorted(corpus._CDF, rng.random()))].lower()

    def hot() -> str:
        return KEYWORDS[int(rng.integers(0, 12))].lower()

    def doc_tokens() -> list[str]:
        toks = contents[int(rng.integers(0, len(contents)))].split()
        return toks[:-2]  # the body; the uid pair sits at the end

    pool, seen = [], set()
    for shape in SHAPES:
        want = len(pool) + round(POOL_SIZE * SHAPES[shape])
        while len(pool) < want:
            req = _request(shape, rng, term, hot, doc_tokens, langs)
            key = request_key(req)
            if key not in seen:
                seen.add(key)
                pool.append(req)
    return pool


def _request(shape: str, rng, term, hot, doc_tokens, langs) -> dict:
    # ASSUMPTION: term counts, phrase lengths, prefix cuts and the single
    # fuzzy edit are shaped after bench.py's queries, not measured
    req: dict = {"shape": shape, "k": 10}
    if shape == "or":
        req["text"] = " ".join(term() for _ in range(int(rng.integers(2, 4))))
    elif shape == "and":
        # bench.py's two AND queries: one of keywords only, one of a hot
        # keyword and a uid (q_bool_must, q_must_selective)
        req["text"] = f"{hot()} {term(rare_share=0.5)}"
        req["require_all"] = True
    elif shape == "lang":
        req["text"] = " ".join(term() for _ in range(int(rng.integers(1, 3))))
        req["filters"] = {"lang": langs[int(rng.integers(0, len(langs)))]}
    elif shape == "prefix":
        req["text"] = " ".join(term() for _ in range(int(rng.integers(1, 3))))
        req["prefix"] = ("path", f"src/mod{int(rng.integers(0, N_MODS))}/")
    elif shape == "must_not":
        req["text"] = f"{term()} {term()}"
        req["must_not_text"] = hot()
    elif shape == "k100":
        req["text"] = " ".join(term() for _ in range(int(rng.integers(1, 3))))
        req["k"] = 100
    elif shape == "page2":
        req["text"] = " ".join(term() for _ in range(int(rng.integers(1, 3))))
    elif shape == "phrase":
        toks = doc_tokens()
        n = 3 if rng.random() < 0.3 else 2
        i = int(rng.integers(0, len(toks) - n))
        req["text"] = " ".join(toks[i:i + n])
    elif shape == "phrase_prefix":
        toks = doc_tokens()
        i = int(rng.integers(0, len(toks) - 2))
        nxt = toks[i + 1]
        req["text"] = f"{toks[i]} {nxt[:max(2, len(nxt) - 2)]}"
    else:  # fuzzy
        req["text"] = _edit(term(), rng)
    return req


def shape_schedule(n: int) -> np.ndarray:
    """Shape of each request slot: a smooth weighted round-robin over
    ``SHAPES``, the same for every seed, so every prefix of every stream
    carries the same shape mix (a short run sees the same composition as
    a long one)."""
    w = np.array(list(SHAPES.values()))
    w = w / w.sum()
    credit = np.zeros(len(w))
    out = np.empty(n, dtype=np.int64)
    for i in range(n):
        credit += w
        j = int(np.argmax(credit))
        credit[j] -= 1.0
        out[i] = j
    return out


def make_stream(seed: int, pool: list[dict], n: int = STREAM_LEN) -> np.ndarray:
    """Pool indices in request order: each slot's shape comes from
    ``shape_schedule``, its pool entry is drawn zipf-skewed by popularity
    rank within that shape, so hot requests repeat."""
    rng = np.random.default_rng([seed, 0x57E])
    members = [np.array([i for i, r in enumerate(pool) if r["shape"] == s]) for s in SHAPES]
    cdfs = [_zipf_cdf(len(m), STREAM_ZIPF_S) for m in members]
    shape_ix = shape_schedule(n)
    u = rng.random(n)
    out = np.empty(n, dtype=np.int64)
    for j, (m, cdf) in enumerate(zip(members, cdfs)):
        sel = shape_ix == j
        out[sel] = m[np.searchsorted(cdf, u[sel])]
    return out


def request_key(req: dict) -> str:
    """A stable identity for a request (repeat detection, fingerprints)."""
    return repr(sorted((k, v if not isinstance(v, dict) else sorted(v.items()))
                       for k, v in req.items()))
