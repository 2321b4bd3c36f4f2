"""Seeded input generators for the mr_textsink and ingest_stream workloads.

The same seed always gives byte-identical files. The program under test
receives only these files; the expected results the benchmark checks it
against are computed here, from the generator's own draws.
"""
import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# mr_textsink corpus shape
CORPUS_FILES = 16
GZ_EVERY = 4            # files 0, 4, 8 and 12 are gzip-compressed
CORPUS_TOKENS = 6_000_000
VOCAB = 50_000
ZIPF_S = 1.07

# ingest_stream arrival shape
WARM_BATCHES = 2        # the first two micro-batches warm a stream up
TIMED_BATCHES = 6       # the ops of an untraced run's stream
TRACE_BATCHES = 2       # the ops of each stream of a traced run
ARRIVAL_FILES = WARM_BATCHES + TIMED_BATCHES    # one micro-batch per file
TRACE_FILES = WARM_BATCHES + TRACE_BATCHES      # the first ones, in landing_trace
DOCS_PER_FILE = 50
MIX = (20, 15, 15)      # per file: fresh, exact copy, near copy (token edits)
EDIT_FRAC = 0.1
LENGTH_WINDOW = 25      # neighbours by text length a slot's source is drawn from


def _vocab(rng, n):
    """n distinct lowercase words, ordered by frequency rank. The length
    of the word at each rank (3 to 10 letters) is the same for every
    seed, so the corpus size does not depend on the seed; the letters
    do."""
    lens = np.random.default_rng(0).integers(3, 11, size=n)
    chars = rng.choice(LETTERS, size=(n, 10))
    words, seen = [], set()
    for row, ln in zip(chars, lens):
        w = "".join(row[:ln])
        while w in seen:
            w = "".join(rng.choice(LETTERS, size=ln))
        seen.add(w)
        words.append(w)
    return words


def corpus(seed, out_dir):
    """Write the Zipfian text corpus; return {word: count}, its size in
    bytes before compression and its number of lines."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, VOCAB)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    ids = rng.choice(VOCAB, size=CORPUS_TOKENS, p=p / p.sum())
    # a line ends after each token with probability 1/12
    line_end = rng.random(CORPUS_TOKENS) < 1 / 12
    line_end[-1] = True
    table = np.array([w + " " for w in vocab] + [w + "\n" for w in vocab], dtype=object)
    tokens = table[ids + VOCAB * line_end]
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, CORPUS_TOKENS, CORPUS_FILES + 1).astype(int)
    raw_bytes = lines = 0
    for f in range(CORPUS_FILES):
        lo, hi = bounds[f], bounds[f + 1]
        # close a file on a line end so no line spans two files
        text = "".join(tokens[lo:hi].tolist())
        if not text.endswith("\n"):
            text = text[:-1] + "\n"
        data = text.encode("ascii")
        raw_bytes += len(data)
        lines += data.count(b"\n")
        if f % GZ_EVERY == 0:
            with open(os.path.join(out_dir, f"part-{f:02d}.txt.gz"), "wb") as fh:
                fh.write(gzip.compress(data, compresslevel=6, mtime=0))
        else:
            with open(os.path.join(out_dir, f"part-{f:02d}.txt"), "wb") as fh:
                fh.write(data)
    counts = np.bincount(ids, minlength=VOCAB)
    return {w: int(c) for w, c in zip(vocab, counts) if c}, raw_bytes, lines


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def arrivals(seed, live_path, out_dir, files, first_id, stream):
    """Write `files` parquet landing files of arriving documents.

    Each file holds DOCS_PER_FILE documents with doc_ids above every live
    id and above every earlier file's, so the files' id ranges are
    disjoint and ascending. File i gets modification time base + i, the
    order the file source reads them in.

    The shape of the files is the same for every seed, so every seed
    gives the door the same work: the kind of each document slot (MIX
    per file) and the length rank of its source live document are drawn
    from a fixed generator. The seed picks the source among the
    LENGTH_WINDOW live documents nearest that rank, the replacement
    words and the edit positions."""
    live = pq.read_table(live_path).to_pydict()
    texts, langs, sources = live["text"], live["lang"], live["source"]
    live_vocab = sorted({w for t in texts for w in t.split(" ")})
    by_length = sorted(range(len(texts)), key=lambda i: (len(texts[i]), i))
    shape = np.random.default_rng([0, stream])
    rng = np.random.default_rng([seed, stream])
    os.makedirs(out_dir, exist_ok=True)
    next_id = first_id
    for f in range(files):
        rows = {k: [] for k in DOC_SCHEMA.names}
        kinds = shape.permutation(np.repeat(np.arange(3), MIX))
        ranks = shape.integers(len(texts) - LENGTH_WINDOW + 1, size=len(kinds))
        for kind, rank in zip(kinds, ranks):
            src = by_length[int(rank + rng.integers(LENGTH_WINDOW))]
            words = texts[src].split(" ")
            if kind == 0:
                words = [live_vocab[i] for i in rng.integers(len(live_vocab), size=len(words))]
            elif kind == 2:
                for i in np.nonzero(rng.random(len(words)) < EDIT_FRAC)[0]:
                    words[i] = live_vocab[int(rng.integers(len(live_vocab)))]
            text = " ".join(words)
            rows["doc_id"].append(next_id)
            rows["text"].append(text)
            rows["lang"].append(langs[src])
            rows["source"].append(sources[int(rng.integers(len(sources)))])
            rows["n_chars"].append(len(text))
            next_id += 1
        path = os.path.join(out_dir, f"b{f:03d}.parquet")
        pq.write_table(pa.Table.from_pydict(rows, schema=DOC_SCHEMA), path)
        os.utime(path, (1_600_000_000 + f, 1_600_000_000 + f))
    return next_id


def generate(workload, seed, data_dir, out_dir):
    """Materialize the inputs of `workload` for `seed` under out_dir and
    return the manifest (written as manifest.json there)."""
    if workload == "mr_textsink":
        counts, raw, lines = corpus(seed, os.path.join(out_dir, "corpus"))
        manifest = {"raw_bytes": raw, "lines": lines, "counts": counts}
    elif workload == "ingest_stream":
        live = os.path.join(data_dir, "documents.parquet")
        first = int(pq.read_table(live, columns=["doc_id"])["doc_id"].to_numpy().max()) + 1
        landing = os.path.join(out_dir, "landing")
        last = arrivals(seed, live, landing, ARRIVAL_FILES, first, 2)
        # a traced run's streams read only the first files: it runs five
        # streams
        trace = os.path.join(out_dir, "landing_trace")
        os.makedirs(trace)
        for f in sorted(os.listdir(landing))[:TRACE_FILES]:
            shutil.copy2(os.path.join(landing, f), trace)
        manifest = {"docs": last - first, "files": ARRIVAL_FILES}
    else:
        manifest = {}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest
