"""Seeded generator for a synthetic SNAP amazon-meta dump.

Writes the gzipped ISO-8859-1 stanza format `AmazonMetaParser` reads:
two header lines, then one `Id:` stanza per product.  Products belong to
topics; a topic owns a title vocabulary and a category path, and a
product's co-purchase list (`similar:`) draws a fixed share of its
entries from its own topic.  Co-purchase neighbours therefore share title
and category words with their source, so the content arm and the CF arm
both score non-zero Precision@K against co-purchase ground truth.

The FIXTURES.md section 1 edge cases are always present: a stanza with no
`title:` (dropped by the parser), one with an empty `group:`, one with
`similar: 0`, and one latin-1 title.

The same (seed, n) always yields byte-identical output: the gzip header
carries no file name and a zero mtime.

    python3 perfbench/gen_catalog.py --seed 7 --products 3000 --out dump.gz
    python3 perfbench/gen_catalog.py --check   # regenerate twice, compare digests
"""

import argparse
import gzip
import hashlib
import io
import json
import random
import sys

TITLE_TOPIC_WORDS = 3     # words a title takes from its topic vocabulary
TITLE_GLOBAL_WORDS = 2    # words a title takes from the shared vocabulary
TOPIC_VOCAB = 12          # words per topic vocabulary
GLOBAL_VOCAB = 600
SIMILAR_PER_PRODUCT = 5
SAME_TOPIC_SHARE = 0.8    # share of `similar:` entries drawn from the source's topic
PRODUCTS_PER_TOPIC = 100
GROUPS = ["Book", "Music", "DVD", "Video", "Toy", "Software"]
LATIN1_TITLE = "Café crème naïve résumé"

_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "po",
              "qua", "dri", "fen", "gol", "hum", "jax", "bel", "cor", "dun", "wex"]


def _word(rng):
    return "".join(rng.choice(_SYLLABLES) for _ in range(3))


def _vocab(rng, n, taken):
    out = []
    while len(out) < n:
        w = _word(rng)
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def generate(seed, n_products):
    """Return (dump bytes, facts) for a catalog of `n_products` stanzas.

    `facts["valid"]` is the number of stanzas carrying both an ASIN and a
    title, which is what the parser must emit."""
    if n_products < 10:
        raise ValueError("n_products must be at least 10")
    rng = random.Random(seed)
    taken = set()
    n_topics = max(4, n_products // PRODUCTS_PER_TOPIC)
    global_vocab = _vocab(rng, GLOBAL_VOCAB, taken)
    topics = [_vocab(rng, TOPIC_VOCAB, taken) for _ in range(n_topics)]
    asins = [f"{a:010d}" for a in rng.sample(range(10 ** 9, 10 ** 10), n_products)]
    topic_of = [rng.randrange(n_topics) for _ in range(n_products)]
    members = [[] for _ in range(n_topics)]
    for i, t in enumerate(topic_of):
        members[t].append(i)

    # index of each edge-case stanza, all distinct
    no_title, empty_group, no_similar, latin1 = rng.sample(range(n_products), 4)

    titles = set()
    out = io.StringIO()
    out.write("# Full information about Amazon Share the Love products\n")
    out.write(f"Total items: {n_products}\n")
    for i in range(n_products):
        t = topic_of[i]
        if i == latin1:
            title = LATIN1_TITLE
        else:
            while True:  # unique titles: no two products embed identically
                words = rng.sample(topics[t], TITLE_TOPIC_WORDS) + \
                    rng.sample(global_vocab, TITLE_GLOBAL_WORDS)
                rng.shuffle(words)
                title = " ".join(words)
                if title not in titles:
                    break
        titles.add(title)
        group = "" if i == empty_group else GROUPS[t % len(GROUPS)]
        if i == no_similar:
            similar = []
        else:
            similar = []
            while len(similar) < SIMILAR_PER_PRODUCT:
                pool = members[t] if rng.random() < SAME_TOPIC_SHARE else range(n_products)
                j = rng.choice(pool)
                if j != i and asins[j] not in similar:
                    similar.append(asins[j])
        out.write(f"\nId:   {i}\nASIN: {asins[i]}\n")
        if i != no_title:
            out.write(f"  title: {title}\n")
        out.write(f"  group: {group}\n  salesrank: {rng.randrange(1, 10 ** 6)}\n")
        out.write(f"  similar: {len(similar)}" + "".join(f"  {s}" for s in similar) + "\n")
        cats = [f"|{GROUPS[t % len(GROUPS)]}s[{283155 + t % len(GROUPS)}]|Subjects[1000]|"
                f"{topics[t][0].title()} {topics[t][1].title()}[{t}]"]
        if rng.random() < 0.5:
            cats.append(f"|{GROUPS[t % len(GROUPS)]}s[{283155 + t % len(GROUPS)}]|"
                        f"{global_vocab[t % GLOBAL_VOCAB].title()}[{10000 + t}]")
        out.write(f"  categories: {len(cats)}\n" + "".join(f"   {c}\n" for c in cats))
        out.write("  reviews: total: 0  downloaded: 0  avg rating: 0\n")

    raw = out.getvalue().encode("iso-8859-1")
    buf = io.BytesIO()
    with gzip.GzipFile(filename="", mode="wb", fileobj=buf, mtime=0) as gz:
        gz.write(raw)
    data = buf.getvalue()
    facts = {"seed": seed, "stanzas": n_products, "valid": n_products - 1,
             "sha256": hashlib.sha256(data).hexdigest()}
    return data, facts


def write(seed, n_products, path):
    data, facts = generate(seed, n_products)
    with open(path, "wb") as f:
        f.write(data)
    return facts


def check(seed=11, n_products=500):
    """Regenerate twice from one seed and once from another; the first two
    digests must match and the third must differ."""
    a = generate(seed, n_products)[1]["sha256"]
    b = generate(seed, n_products)[1]["sha256"]
    c = generate(seed + 1, n_products)[1]["sha256"]
    if a != b or a == c:
        raise SystemExit(f"catalog generator is not seed-deterministic: {a} {b} {c}")
    return a


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--products", type=int, default=3000)
    ap.add_argument("--out")
    ap.add_argument("--check", action="store_true")
    a = ap.parse_args()
    if a.check:
        print(f"deterministic: {check()}")
        return
    if not a.out:
        ap.error("--out is required")
    print(json.dumps(write(a.seed, a.products, a.out)))


if __name__ == "__main__":
    sys.exit(main())
