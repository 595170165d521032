#!/usr/bin/env python3
"""Seeded input generators of the benchmark (pure Python + pyarrow).

Every table is a function of (workload, seed, size) only, so the same seed
gives the same inputs on every host. Each generator writes its tables under
an input directory and returns the inputs' properties, which run.py stores
as props.json beside them.

  kg_pipeline       CoNLL-U span table (docs/) in DocGen's sentence template
                    (det adj noun verb det noun [adv] [adp noun] .) with
                    open-class words drawn from Zipf vocabularies, a
                    gazetteer over the most frequent nouns (gazetteer/, the
                    same for every seed) and seeded sameAs evidence (sameas/).
  neardup_clusters  documents.parquet in the registry's schema: Zipf text
                    over pronounceable words, with a seeded share of edited
                    copies of earlier originals (near-duplicate clusters).
"""
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 5
ZIPF_EXPONENT = 1.0
FILES = 4  # one input split per core of the 4-core reference host


def zipf_rank(r, n):
    """Rank in [1, n] with P(rank) proportional to 1/rank (Zipf, exponent 1),
    by inverting the continuous log-uniform CDF."""
    return min(n, max(1, int(math.exp(r.random() * math.log(n + 1.0)))))


def b36(n):
    s = ""
    while True:
        n, d = divmod(n, 36)
        s = "0123456789abcdefghijklmnopqrstuvwxyz"[d] + s
        if n == 0:
            return s


def write_parts(table, out):
    os.makedirs(out, exist_ok=True)
    n = table.num_rows
    for i in range(FILES):
        lo, hi = n * i // FILES, n * (i + 1) // FILES
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out, f"part-{i:05d}.parquet"))


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


# ------------------------------------------------------------ kg_pipeline

NOUNS, ADJS, VERBS, ADVS = 1_000_000, 100_000, 100_000, 10_000
GAZETTEER_ROWS = 30_000

SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                  ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])


def noun(rank):
    return "n" + b36(rank)


def sentence_rows(r):
    """DocGen.sentenceRows' clause and dependency tree, open-class words Zipf."""
    def pick(upos):
        if upos == "DET":
            w = r.choice(["the", "a"])
            return (w, w, "DET", "DT")
        if upos == "ADP":
            w = r.choice(["over", "of", "under"])
            return (w, w, "ADP", "IN")
        if upos == "NOUN":
            w = noun(zipf_rank(r, NOUNS))
            return (w, w, "NOUN", "NN")
        if upos == "ADJ":
            w = "j" + b36(zipf_rank(r, ADJS))
            return (w, w, "ADJ", "JJ")
        if upos == "VERB":
            w = "v" + b36(zipf_rank(r, VERBS))
            return (w + "s", w, "VERB", "VBZ")
        w = "r" + b36(zipf_rank(r, ADVS))
        return (w, w, "ADV", "RB")

    det1, adj1, n1, v = pick("DET"), pick("ADJ"), pick("NOUN"), pick("VERB")
    det2, n2, adp, n3 = pick("DET"), pick("NOUN"), pick("ADP"), pick("NOUN")
    punct = (".", ".", "PUNCT", ".")
    with_pp, with_adv = r.randrange(2) == 0, r.randrange(3) == 0
    adv = pick("ADV")
    toks = [(det1, 3, "det"), (adj1, 3, "amod"), (n1, 4, "nsubj"), (v, 0, "root"),
            (det2, 6, "det"), (n2, 4, "obj")]
    if with_adv:
        toks.append((adv, 4, "advmod"))
    if with_pp:
        base = len(toks)
        toks += [(adp, base + 2, "case"), (n3, 6, "nmod")]
    toks.append((punct, 4, "punct"))
    return ["\t".join([str(i + 1), w, l, u, p, "_", str(h), e, "_", "_"])
            for i, ((w, l, u, p), h, e) in enumerate(toks)]


def kg_doc(seed, i):
    r = random.Random(seed * 1_000_003 + i)
    spans = []

    def add(kind, text, media=""):
        spans.append({"kind": kind, "text": text, "media_ref": media, "offset": len(spans)})

    add("comment", f"# newdoc id = doc{i}")
    sents = 1 + r.randrange(8)
    for s in range(sents):
        add("comment", f"# sent_id = doc{i}-s{s}")
        if r.randrange(4) == 0:
            add("media", "", f"media://doc{i}/img{r.randrange(100)}")
        for row in sentence_rows(r):
            add("token", row)
        add("sentence_break", "")
    return {"doc_id": f"doc{i}", "spans": spans}


def entity(rank):
    """Zero-padded, so a block's first entity is also its smallest id."""
    return f"ent:{rank:07d}"


def gazetteer(out, rows):
    """(surface, entity_id) for the `rows` most frequent nouns; seed-free."""
    write_parts(pa.table({"surface": [noun(k) for k in range(1, rows + 1)],
                          "entity_id": [entity(k) for k in range(1, rows + 1)]}), out)


def same_as(seed, out, entities):
    """With probability 1/2 an entity links to the first entity of its block
    of 8, so components are stars of up to 8 entities."""
    r = random.Random(seed * 7_919 + 17)
    src, dst = [], []
    for k in range(1, entities + 1):
        head = (k - 1) // 8 * 8 + 1
        if r.randrange(2) == 0 and head != k:
            src.append(entity(k))
            dst.append(entity(head))
    write_parts(pa.table({"src": src, "dst": dst}), out)
    return len(src)


def kg_pipeline(d, seed, n_docs):
    docs = [kg_doc(seed, i) for i in range(n_docs)]
    write_parts(pa.Table.from_pylist(docs, schema=DOCS), os.path.join(d, "docs"))
    gazetteer(os.path.join(d, "gazetteer"), GAZETTEER_ROWS)
    edges = same_as(seed, os.path.join(d, "sameas"), GAZETTEER_ROWS)
    words = [s["text"].split("\t")[1].lower() for doc in docs for s in doc["spans"] if s["kind"] == "token"]
    return {"docs": n_docs,
            "sentences": sum(s["kind"] == "sentence_break" for doc in docs for s in doc["spans"]),
            "tokens": len(words), "vocabulary": len(set(words)),
            "zipf_exponent": ZIPF_EXPONENT, "noun_ranks": NOUNS,
            "gazetteer_rows": GAZETTEER_ROWS, "sameas_edges": edges,
            "bytes": dir_bytes(d)}


# -------------------------------------------------------- neardup_clusters

SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo",
             "an", "el", "is", "or", "ub", "ch", "st", "pr"]
WORDS = 30_000


def word(rank):
    """A pronounceable word per rank: its base-16 digits as syllables."""
    s = ""
    while True:
        s += SYLLABLES[rank & 15]
        rank >>= 4
        if rank == 0:
            return s


def neardup_texts(seed, n_docs, dup_share):
    """Originals are fresh Zipf text of 20-59 words; a `dup_share` of the
    documents are copies of a random earlier original with 3% of tokens
    dropped and 4% replaced, so each original and its copies form a cluster."""
    texts, originals = [], []
    for i in range(n_docs):
        r = random.Random(seed * 1_000_033 + i)
        if originals and r.random() < dup_share:
            src = texts[originals[int(r.random() * len(originals))]].split(" ")
            out = []
            for w in src:
                u = r.random()
                if u < 0.03:
                    continue
                out.append(word(zipf_rank(r, WORDS)) if u < 0.07 else w)
            texts.append(" ".join(out))
        else:
            originals.append(i)
            texts.append(" ".join(word(zipf_rank(r, WORDS)) for _ in range(20 + r.randrange(40))))
    return texts, len(originals)


def neardup_clusters(d, seed, n_docs, dup_share=0.15):
    texts, n_orig = neardup_texts(seed, n_docs, dup_share)
    langs = ["en", "de", "fr", "es"]
    t = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[i % 4] for i in range(n_docs)],
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    write_parts(t, os.path.join(d, "documents.parquet"))
    words = [w for x in texts for w in x.split(" ")]
    return {"docs": n_docs, "tokens": len(words), "vocabulary": len(set(words)),
            "zipf_exponent": ZIPF_EXPONENT, "word_ranks": WORDS,
            "neardup_share": dup_share, "neardup_copies": n_docs - n_orig,
            "bytes": dir_bytes(d)}
