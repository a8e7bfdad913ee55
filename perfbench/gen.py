"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical parquet files and the same ground truth.
Nothing here imports Spark, so the generators run (and are tested)
without a session. The program under test only ever sees the files
written here.

Input properties the workloads depend on (also listed in README.md):

* classify: ``REPEAT_SHARE`` of the rows repeat an earlier prompt;
  prompt length in words is uniform over ``LEN_WORDS``, the range of the
  ``documents`` fixture table that ``examples/run_text_classifier.py``
  classifies (10 to 99 words, median 56).
* curate: planted near-duplicate clusters, boilerplate groups (shared
  spans, not near-duplicates), paraphrase embedding twins (different
  text, near-identical embedding), contamination hits (a passage copied
  from one of the five lowest doc ids, which the curation chain uses as
  its eval probe), low-quality and too-short documents, and a Zipf
  source skew.
* stream: a corpus, then arrival files of planted near-copies of corpus
  documents (to be rejected) and novel documents (to be admitted), in
  two waves plus one post-merge file.

Taken from the ``documents`` fixture the examples read: the classify
length range, 20 sources and a 40% ``en`` language share. Assumed, not
measured from any traffic: the synthetic vocabulary (4,000 words, so
unrelated documents share no shingles; the fixture's 31 words would
make them collide), the stopword share, the Zipf source skew, the
curation and stream document lengths and the sizes of planted groups.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPEAT_SHARE = 0.30
LEN_WORDS = (10, 99)
STOP_SHARE = 0.2
EMB_DIM = 256
N_SOURCES = 20
SOURCE_ZIPF = 1.2
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is")
_SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "da",
    "fe", "gu", "ho", "ji", "pa", "se", "ti", "wu", "xa", "yo",
)


def vocabulary(size: int = 4000) -> list[str]:
    """A fixed synthetic vocabulary (independent of the seed): distinct
    three-syllable words, none of them a stopword."""
    n = len(_SYLLABLES)
    words = []
    for i in range(size):
        a, b, c = i % n, (i // n) % n, (i // (n * n)) % n
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + _SYLLABLES[c])
    return words


_VOCAB = np.array(vocabulary())


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` words of soup: content words plus ~STOP_SHARE stopwords."""
    out = _VOCAB[rng.integers(0, len(_VOCAB), n)].astype(object)
    stop = rng.random(n) < STOP_SHARE
    out[stop] = np.array(_STOPWORDS, dtype=object)[rng.integers(0, len(_STOPWORDS), int(stop.sum()))]
    return out.tolist()


def _write(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


# -- classify ---------------------------------------------------------------


def classify_texts(seed: int, n_rows: int) -> list[str]:
    """``n_rows`` prompts of which ``round(REPEAT_SHARE * n_rows)`` repeat
    one of the distinct prompts (chosen uniformly), in shuffled order."""
    rng = np.random.default_rng([seed, 1])
    n_distinct = n_rows - int(round(REPEAT_SHARE * n_rows))
    lens = rng.integers(LEN_WORDS[0], LEN_WORDS[1] + 1, n_distinct)
    words = _words(rng, int(lens.sum()))
    ends = np.cumsum(lens)
    distinct = [" ".join(words[e - n : e]) for n, e in zip(lens, ends)]
    seen: set[str] = set()
    for i, t in enumerate(distinct):
        while t in seen:  # a repeated draw would shift the repeat share
            t = " ".join(_words(rng, int(lens[i])))
        seen.add(t)
        distinct[i] = t
    repeats = [distinct[i] for i in rng.integers(0, n_distinct, n_rows - n_distinct)]
    texts = distinct + repeats
    order = rng.permutation(n_rows)
    return [texts[i] for i in order]


def write_classify(seed: int, n_rows: int, path: str, files: int) -> list[str]:
    """Classify input: a ``text`` column only (the workload assigns ids)
    in ``files`` parquet files; returns the texts."""
    texts = classify_texts(seed, n_rows)
    _write(pa.table({"text": texts}), path, files=files)
    return texts


# -- curate -----------------------------------------------------------------


def _sources(rng: np.random.Generator, n: int) -> list[str]:
    w = 1.0 / np.arange(1, N_SOURCES + 1) ** SOURCE_ZIPF
    return [f"src{k}" for k in rng.choice(N_SOURCES, n, p=w / w.sum())]


def _embedding(rng: np.random.Generator) -> np.ndarray:
    return rng.normal(0, 1, EMB_DIM).astype(np.float32)


def _twin(rng: np.random.Generator, v: np.ndarray) -> np.ndarray:
    """A near-identical vector in the same sign-bit cell: the first 8
    components (the cell key) are kept, the rest get small noise."""
    t = v + rng.normal(0, 0.05, EMB_DIM).astype(np.float32)
    t[:8] = v[:8]
    return t


def curation_corpus(seed: int, n_docs: int) -> tuple[dict, dict, dict]:
    """(documents columns, embeddings columns, ground truth).

    Doc ids 0..4 are the eval probe the curation chain takes from the
    corpus head; contaminants copy a 12-word passage from one of them.
    Planted roles are disjoint, so each one is removed by exactly one
    stage of the chain; their counts scale with ``n_docs`` (about 15%
    of the documents play a planted role)."""
    n_clusters, n_boiler_groups, n_twins = max(2, n_docs // 48), max(1, n_docs // 200), max(2, n_docs // 80)
    n_contaminants, n_low_quality, n_short = max(2, n_docs // 120), max(2, n_docs // 120), max(2, n_docs // 150)
    rng = np.random.default_rng([seed, 2])
    texts: dict[int, str] = {}
    embs: dict[int, np.ndarray] = {}
    truth = {
        "probe": list(range(5)),
        "clusters": [],
        "boilerplate": [],
        "twins": [],
        "contaminants": [],
        "low_quality": [],
        "short": [],
    }
    ids = iter(range(5, n_docs))

    def normal_text() -> str:
        return " ".join(_words(rng, int(rng.integers(40, 160))))

    for i in range(5):
        texts[i] = normal_text()
    for _ in range(n_clusters):
        base = normal_text().split(" ")
        members = []
        for k in range(int(rng.integers(2, 5))):
            d = next(ids)
            w = list(base)
            if k:
                w[-1] = _VOCAB[rng.integers(0, len(_VOCAB))]
            texts[d] = " ".join(w)
            members.append(d)
        truth["clusters"].append(members)
    for _ in range(n_boiler_groups):
        boiler = _words(rng, 50)
        group = []
        for _k in range(3):
            d = next(ids)
            texts[d] = " ".join(boiler + _words(rng, 15))
            group.append(d)
        truth["boilerplate"].append(group)
    for _ in range(n_twins):
        a, b = next(ids), next(ids)
        texts[a], texts[b] = normal_text(), normal_text()
        embs[a] = _embedding(rng)
        embs[b] = _twin(rng, embs[a])
        truth["twins"].append([a, b])
    for _ in range(n_contaminants):
        d = next(ids)
        src = texts[int(rng.integers(0, 5))].split(" ")
        start = int(rng.integers(0, len(src) - 12))
        texts[d] = " ".join(_words(rng, 20) + src[start : start + 12] + _words(rng, 20))
        truth["contaminants"].append(d)
    for _ in range(n_low_quality):
        d = next(ids)
        texts[d] = " ".join(w + "!?;" for w in _VOCAB[rng.integers(0, len(_VOCAB), 25)])
        truth["low_quality"].append(d)
    for _ in range(n_short):
        d = next(ids)
        texts[d] = " ".join(_words(rng, int(rng.integers(5, 15))))
        truth["short"].append(d)
    for d in ids:
        texts[d] = normal_text()
    # cluster copies carry their base's embedding, as a real embedder would
    for members in truth["clusters"]:
        embs[members[0]] = _embedding(rng)
        for d in members[1:]:
            embs[d] = _twin(rng, embs[members[0]])
    for d in range(n_docs):
        if d not in embs:
            embs[d] = _embedding(rng)
    doc_ids = list(range(n_docs))
    docs = {
        "doc_id": doc_ids,
        "text": [texts[d] for d in doc_ids],
        "lang": [LANGS[k] for k in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": _sources(rng, n_docs),
    }
    docs["n_chars"] = [len(t) for t in docs["text"]]
    emb = {
        "vec_id": doc_ids,
        "embedding": [embs[d].tolist() for d in doc_ids],
        "label": [int(x) for x in rng.integers(0, 10, n_docs)],
    }
    return docs, emb, truth


def write_curation(seed: int, n_docs: int, sf_dir: str) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` in the
    fixture layout ``tables.load_table`` reads; returns ground truth."""
    docs, emb, truth = curation_corpus(seed, n_docs)
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            docs,
            schema=pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                 ("source", pa.string()), ("n_chars", pa.int64())]
            ),
        ),
        os.path.join(sf_dir, "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            emb,
            schema=pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
            ),
        ),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    return truth


# -- stream -----------------------------------------------------------------

NEW_ID_OFFSET = 9_000_000


def stream_inputs(seed: int, n_corpus: int, wave_files: tuple[int, int], rows_per_file: int) -> dict:
    """Corpus texts plus arrival files. Each arrival file holds planted
    near-copies of corpus documents (last word changed: Jaccard ~0.95,
    rejected at the 0.9 admission cut) and novel documents (admitted).
    The post-merge file holds one near-copy of a wave-1 arrival."""
    rng = np.random.default_rng([seed, 3])
    corpus = [" ".join(_words(rng, int(rng.integers(50, 150)))) for _ in range(n_corpus)]
    next_id = NEW_ID_OFFSET
    waves: list[list[dict]] = []
    copied = rng.permutation(n_corpus)
    c = 0
    for n_files in wave_files:
        files = []
        for _ in range(n_files):
            rows = {"doc_id": [], "text": [], "planted": []}
            for r in range(rows_per_file):
                if r % 2 == 0:
                    w = corpus[copied[c]].split(" ")
                    c += 1
                    w[-1] = _VOCAB[rng.integers(0, len(_VOCAB))]
                    text, planted = " ".join(w), True
                else:
                    text, planted = " ".join(_words(rng, int(rng.integers(50, 150)))), False
                rows["doc_id"].append(next_id)
                rows["text"].append(text)
                rows["planted"].append(planted)
                next_id += 1
            files.append(rows)
        waves.append(files)
    w1 = waves[0][0]
    probe = 1  # a novel wave-1 arrival: only the merged index holds its rows
    post_merge = {"doc_id": [next_id], "text": [w1["text"][probe]]}
    return {"corpus": corpus, "waves": waves, "post_merge": post_merge, "post_merge_of": w1["doc_id"][probe]}


def write_stream(seed: int, n_corpus: int, wave_files: tuple[int, int], rows_per_file: int, root: str) -> dict:
    """Write the corpus table and one parquet file per arrival into
    ``root/arrivals/``; returns the file lists and ground truth."""
    g = stream_inputs(seed, n_corpus, wave_files, rows_per_file)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    corpus_dir = os.path.join(root, "corpus")
    _write(pa.table({"doc_id": list(range(len(g["corpus"]))), "text": g["corpus"]}, schema=schema), corpus_dir)
    arrivals = os.path.join(root, "arrivals")
    os.makedirs(arrivals, exist_ok=True)
    planted, novel = [], []
    waves = []
    k = 0
    for files in g["waves"] + [[g["post_merge"]]]:
        names = []
        for rows in files:
            name = os.path.join(arrivals, f"arrival-{k:04d}.parquet")
            pq.write_table(pa.table({"doc_id": rows["doc_id"], "text": rows["text"]}, schema=schema), name)
            names.append(name)
            k += 1
        waves.append(names)
    for rows in (r for files in g["waves"] for r in files):
        for d, p in zip(rows["doc_id"], rows["planted"]):
            (planted if p else novel).append(d)
    return {
        "corpus": corpus_dir,
        "waves": waves,
        "planted": planted,
        "novel": novel,
        "post_merge_id": g["post_merge"]["doc_id"][0],
        "post_merge_of": g["post_merge_of"],
    }
