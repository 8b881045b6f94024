"""Seeded inputs for the opsbench workloads.

The program sees only what this module writes: `base.parquet`, one
`day-NNNNN.parquet` batch per cycle, `probe.parquet` (flooded_ingest),
`script.txt` (audit_churn) and `meta.txt` (sizes and id layout). Every
table has the columns (doc_id BIGINT, lang VARCHAR, text VARCHAR).

Ordinary documents have the shape of the sf0.1 `documents` table (5,000
docs of 10 to 100 whitespace-separated words, the same five-language
mix). The words come from a seeded vocabulary of 3,000 pseudo-words with
Zipf frequencies: the sf0.1 table's own 30-word vocabulary makes 5-gram
MinHash minima collide across unrelated documents, so band-pair buckets
would flood on ordinary text, and only the template family is meant to
escalate. A corpus larger than sf0.1 is made the way
tools/make_sf1.py scales it: key-shifted copies whose tokens carry a
per-copy `_k` suffix, so copies are not near-duplicates of each other.

Ingest batches plant exact duplicates (verbatim text of a document
already indexed) and near duplicates (one word replaced) at fixed rates.
The boilerplate template family of flooded_ingest and the fault probe
do not depend on the seed: their texts and ids are the same in every
run, so the one fault they expose fails on every cycle.
"""

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOCS_PER_COPY = 5000
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB_SIZE = 3000
EXACT_RATE = 0.10
NEAR_RATE = 0.10

# Per workload: copies of the 5,000-doc table in the base corpus (or a
# plain base size), batch size, template-family members in the base and
# per batch, and the number of batches written (more than any run uses).
SIZES = {
    "flooded_ingest": dict(copies=2, batch=500, family_base=400, family_batch=25, days=24),
    "audit_churn": dict(base=2000, batch=100, days=24),
}

# Boilerplate shared verbatim by every member of the template family;
# member k is TEMPLATE + "copy k". All members agree with each other on
# at least 15 of 16 MinHash lanes, so the family is one near-dup cluster
# whose band-pair buckets hold every member (far past the escalation cap).
TEMPLATE = ("this page uses cookies to improve your experience by continuing to "
            "browse the site you agree to our use of cookies and our privacy "
            "policy all rights reserved terms of service apply ")

# The fault probe (ROADMAP open item 1): two documents that share a full
# band pair with the template family, so both land in its escalated
# bucket, agree with each other on all 16 lanes, but agree with no
# family member on more than 11. dedupBatch's chain leg pairs them with
# each other, both being batch documents, and flags the first as a
# near-duplicate of the index although nothing indexed is within 14/16.
PROBE_A = ("this page uses cookies to improve your experience by continuing to "
           "browse the site you agree to our use of cookies and our privacy "
           "policy all rights reserved terms of whiskey lima kilo victor oscar "
           "uniform echo tango")
PROBE_TEXTS = [PROBE_A, PROBE_A + " alpha"]
PROBE_ID = 10 ** 12

AUDIT_KEEP_LAST = 4
AUDIT_DELETES = 5

SCHEMA = pa.schema([("doc_id", pa.int64()), ("lang", pa.string()), ("text", pa.string())])


def _vocab(r):
    syl = ["ka", "to", "ri", "mo", "ne", "sa", "lu", "vi", "de", "po", "ga",
           "fe", "zu", "bi", "ch", "th", "an", "er", "on", "is", "el", "ur"]
    words = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(r.choice(syl) for _ in range(r.randint(1, 4))))
    words = sorted(words)
    r.shuffle(words)
    return words, list(itertools.accumulate(1.0 / (i + 1) for i in range(VOCAB_SIZE)))


class Corpus:
    def __init__(self, seed):
        self.r = random.Random(seed)
        self.words, self.cum = _vocab(self.r)

    def text(self, suffix=""):
        n = self.r.randint(10, 100)
        return " ".join(w + suffix for w in self.r.choices(self.words, cum_weights=self.cum, k=n))

    def lang(self):
        return self.r.choices(LANGS, LANG_WEIGHTS)[0]

    def table(self, n):
        """An sf0.1-shaped documents table of n (lang, text) rows."""
        return [(self.lang(), self.text()) for _ in range(n)]

    def near(self, text):
        toks = text.split()
        i = self.r.randrange(len(toks))
        toks[i] = self.r.choices(self.words, cum_weights=self.cum)[0] + toks[i][len(toks[i].rstrip("_0123456789")):]
        return " ".join(toks)


def _write(path, rows):
    ids, langs, texts = zip(*rows)
    pq.write_table(pa.table([list(ids), list(langs), list(texts)], schema=SCHEMA), path)


def _copies(base, copies):
    """tools/make_sf1.py's scaling: copy k shifts ids by k * len(base)
    and suffixes every token with _k."""
    out = []
    for k in range(copies):
        for lang, text in base:
            out.append((lang, text if k == 0 else " ".join(t + f"_{k}" for t in text.split())))
    return out


def generate(workload, seed, out):
    s = SIZES[workload]
    c = Corpus(seed)
    os.makedirs(out, exist_ok=True)
    if workload == "audit_churn":
        base = c.table(s["base"])
    else:
        base = _copies(c.table(DOCS_PER_COPY), s["copies"])
        base += [("en", TEMPLATE + f"copy {k}") for k in range(s["family_base"])]
    _write(f"{out}/base.parquet", [(i, l, t) for i, (l, t) in enumerate(base)])
    n_base, batch = len(base), s["batch"]
    # sources of planted duplicates: ordinary documents already indexed
    # when the batch arrives (audit: base only, since later documents
    # may be deleted or rolled back)
    sources = base[:len(base) - s.get("family_base", 0)]
    fb = s.get("family_batch", 0)
    for d in range(s["days"]):
        family = [("en", TEMPLATE + f"copy {s['family_base'] + d * fb + i}") for i in range(fb)]
        n_exact = round(EXACT_RATE * batch)
        n_near = round(NEAR_RATE * batch)
        rest = []
        for _ in range(n_exact):
            rest.append(c.r.choice(sources))
        for _ in range(n_near):
            lang, text = c.r.choice(sources)
            rest.append((lang, c.near(text)))
        while len(rest) < batch - fb:
            k = c.r.randrange(s.get("copies", 1))
            rest.append((c.lang(), c.text("" if k == 0 else f"_{k}")))
        c.r.shuffle(rest)
        rows = family + rest
        first = n_base + d * batch
        _write(f"{out}/day-{d:05d}.parquet", [(first + i, l, t) for i, (l, t) in enumerate(rows)])
        if workload != "audit_churn":
            sources += rest
    if workload == "flooded_ingest":
        _write(f"{out}/probe.parquet",
               [(PROBE_ID + i, "en", t) for i, t in enumerate(PROBE_TEXTS)])
    meta = dict(base_docs=n_base, batch_docs=batch, days=s["days"])
    if workload == "audit_churn":
        meta["keep_last"] = AUDIT_KEEP_LAST
        with open(f"{out}/script.txt", "w") as f:
            for d in range(s["days"]):
                fr = " ".join(f"{c.r.random():.6f}" for _ in range(AUDIT_DELETES))
                f.write(f"{2 + c.r.randrange(3)} {fr}\n")
    with open(f"{out}/meta.txt", "w") as f:
        for k, v in meta.items():
            f.write(f"{k} {v}\n")
