"""Seeded input generators for the benchmark's three workloads.

Every generator is a pure function of its seed: the same seed writes the same
bytes. Next to the data each one writes `planted.json` (the exact counts it
planted: reviews per category, malformed lines, missing fields, exact-copy
pairs) and the expected outputs, computed here independently of the program:

- reviews_long: `expected_counters.txt` and `expected_chisq.txt`, made with
  the reference mapper's own rules (json.loads skip, lower, strip the
  character class, str.split, per-review set) and exact Python big-int chi2
  printed with Python float repr;
- vocab_wide: `expected_topk.tsv` (category, word, IEEE bits of chi2) and
  `expected_vocab.txt`, with the double-precision chi2 evaluated in the same
  operand order as graft.chisq.ChiSquare.score;
- neardup_pairs: `expected_exact_pairs.tsv` and `expected_exact_groups.tsv`.
"""

import json
import os
import re
import struct
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

K = 75  # top-k per category, the paper's 75
PARTS = 8  # input part files: two scan splits per core on a 4-core run

# The reference mapper's stripped character class (graft.text.TextOps).
STRIPPED = re.compile(r"""[()\[\]{}.!?,;:+=\-_"~#@&*%€$§/\\0-9\t']""")

CATEGORIES = [
    "Books", "Electronics", "Clothing_Shoes_and_Jewelry", "Home_and_Kitchen",
    "Movies_and_TV", "CDs_and_Vinyl", "Sports_and_Outdoors",
    "Cell_Phones_and_Accessories", "Health_and_Personal_Care",
    "Toys_and_Games", "Tools_and_Home_Improvement", "Beauty",
    "Apps_for_Android", "Kindle_Store", "Grocery_and_Gourmet_Food",
    "Automotive", "Pet_Supplies", "Office_Products", "Baby",
    "Digital_Music", "Musical_Instruments", "Patio_Lawn_and_Garden",
]

# Workload sizes. At these sizes an operation takes two to three seconds on
# two cores, most of it per-action planning and scheduling work, so that a
# run (two set-ups and cold operations, warm-up and several measured
# operations) stays near 60 s and a campaign of 48 runs under an hour.
LONG_REVIEWS = 6000
LONG_VOCAB = 30000
WIDE_REVIEWS = 25000
WIDE_CATEGORIES = 300
WIDE_VOCAB = 2_000_000
DUP_DOCS = 1200


def word(i):
    """Distinct lowercase pseudo-word for id i (base 26, at least 3 letters)."""
    n = i + 26 * 26
    s = []
    while n:
        n, r = divmod(n, 26)
        s.append(chr(97 + r))
    return "".join(reversed(s))


def zipf_sampler(rng, n_types, s):
    cdf = np.cumsum(1.0 / np.arange(1, n_types + 1) ** s)
    cdf /= cdf[-1]
    return lambda size: np.minimum(np.searchsorted(cdf, rng.random(size)),
                                   n_types - 1)


def write_parts(out_dir, name, lines):
    """Split `lines` into PARTS files of about equal size under out_dir/name."""
    d = os.path.join(out_dir, name)
    os.makedirs(d)
    per = -(-len(lines) // PARTS)
    for p in range(PARTS):
        with open(os.path.join(d, f"part-{p:05d}.json"), "w",
                  encoding="utf-8", newline="\n") as f:
            f.writelines(l + "\n" for l in lines[p * per:(p + 1) * per])


def write_json(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def chi2_exact(a, wt, n, total):
    """The reference's chi2: big-int numerator and denominator, one division."""
    b, c = wt - a, n - a
    d = total - wt - n + a
    if a + b == 0 or a + c == 0 or b + d == 0 or c + d == 0:
        return None
    return total * (a * d - b * c) ** 2 / ((a + b) * (a + c) * (b + d) * (c + d))


# ---------------------------------------------------------------- reviews_long

def gen_reviews_long(seed, out_dir):
    rng = np.random.default_rng([seed, 1])
    stop_ids = np.arange(150)
    stopwords = [word(LONG_VOCAB + i) for i in stop_ids]
    general = zipf_sampler(rng, LONG_VOCAB, 1.1)
    stop_pick = zipf_sampler(rng, len(stopwords), 0.8)
    topical_pick = zipf_sampler(rng, 300, 1.0)
    topical = [rng.permutation(LONG_VOCAB)[:300] for _ in CATEGORIES]
    # skewed category sizes, Zipf over the 22 categories
    cat_w = 1.0 / np.arange(1, len(CATEGORIES) + 1) ** 0.9
    cats = rng.choice(len(CATEGORIES), LONG_REVIEWS, p=cat_w / cat_w.sum())
    truncated = ["Boo", "Electr", "Home_and_Kit"]
    decorations = [
        lambda w: w.capitalize(), lambda w: w + ",", lambda w: w + ".",
        lambda w: w + "!", lambda w: w + "'s", lambda w: w + "42",
        lambda w: "(" + w + ")", lambda w: w + "-" + w[::-1],
        lambda w: "<" + w + ">", lambda w: w + "|" + w[:2], lambda w: "^" + w,
        lambda w: w + "€", lambda w: "§" + w, lambda w: w + "\t",
        lambda w: w.upper(), lambda w: w + "&co", lambda w: "#" + w,
    ]
    n = LONG_REVIEWS
    lengths = rng.integers(60, 301, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)]).tolist()
    n_tok = offsets[-1]
    cat_of = np.repeat(cats, lengths)
    # 30% stopwords, 15% the review category's topical words, the rest
    # from the global Zipf vocabulary
    kind = rng.random(n_tok)
    idx = np.where(kind < 0.30, LONG_VOCAB + stop_pick(n_tok),
                   np.where(kind < 0.45,
                            np.array(topical)[cat_of, topical_pick(n_tok)],
                            general(n_tok)))
    surface = [word(i) for i in range(LONG_VOCAB)] + stopwords
    toks = [surface[i] for i in idx.tolist()]
    which = rng.integers(0, len(decorations), n_tok)
    for j in np.nonzero(rng.random(n_tok) < 0.12)[0].tolist():
        toks[j] = decorations[which[j]](toks[j])
    u = rng.random(n)
    cut = rng.random(n) < 0.005
    reviewer = rng.integers(1 << 40, size=n)
    asin = rng.integers(1 << 36, size=n)
    overall = rng.integers(1, 6, n)
    when = rng.integers(10**8, size=n)
    trunc = rng.integers(len(truncated), size=n)
    cut_frac = rng.random(n)
    lines, planted = [], Counter()
    for r in range(n):
        review = toks[offsets[r]:offsets[r + 1]]
        text = " ".join(review)
        category = CATEGORIES[cats[r]]
        obj = {"reviewerID": f"A{reviewer[r]:012X}", "asin": f"B{asin[r]:010X}",
               "overall": float(overall[r]), "summary": " ".join(review[:6]),
               "unixReviewTime": int(1_300_000_000 + when[r])}
        if u[r] < 0.004:
            planted["missing_category"] += 1
            obj["reviewText"] = text
        elif u[r] < 0.008:
            planted["missing_reviewText"] += 1
            obj["category"] = category
        else:
            if u[r] < 0.011:
                category = truncated[trunc[r]]
                planted["truncated_category"] += 1
            obj["category"] = category
            obj["reviewText"] = text
        line = json.dumps(obj, ensure_ascii=False)
        if cut[r]:
            # cut before the closing brace: never valid JSON
            line = line[:10 + int(cut_frac[r] * (len(line) - 11))]
            planted["malformed_lines"] += 1
        lines.append(line)

    write_parts(out_dir, "reviews", lines)
    with open(os.path.join(out_dir, "stopwords.txt"), "w") as f:
        f.write("\n".join(stopwords) + "\n")

    # oracle: the reference mapper and reducer, line by line
    stop = set(stopwords)
    per_cat, df = Counter(), Counter()
    for line in lines:
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        cat = obj.get("category") or "Unknown"
        text = obj.get("reviewText") or ""
        per_cat[cat] += 1
        for w in set(STRIPPED.sub(" ", text.lower()).split()):
            if w not in stop:
                df[(w, cat)] += 1
    total = sum(per_cat.values())
    word_total = Counter()
    for (w, _), a in df.items():
        word_total[w] += a
    scored = defaultdict(list)
    for (w, cat), a in df.items():
        s = chi2_exact(a, word_total[w], per_cat[cat], total)
        if s is not None:
            scored[cat].append((-s, w))
    out, vocab_union = [], set()
    for cat in sorted(scored):
        top = sorted(scored[cat])[:K]
        vocab_union.update(w for _, w in top)
        out.append(cat + "\t{" + ", ".join(
            f"'{w}': {-s!r}" for s, w in top) + "}")
    out.append("[" + ", ".join(f"'{w}'" for w in sorted(vocab_union)) + "]")
    with open(os.path.join(out_dir, "expected_chisq.txt"), "w",
              encoding="utf-8", newline="\n") as f:
        f.write("\n".join(out) + "\n")
    with open(os.path.join(out_dir, "expected_counters.txt"), "w") as f:
        f.write(f"{total} {{" + ", ".join(
            f"'{c}': {per_cat[c]}" for c in sorted(per_cat)) + "}\n")
    planted = dict(planted)
    planted.update({"reviews": len(lines), "parsed_reviews": total,
                    "reviews_per_category": dict(sorted(per_cat.items())),
                    "stopwords": len(stopwords), "df_rows": len(df)})
    return {"items": len(lines), "planted": planted}


# ---------------------------------------------------------------- vocab_wide

def gen_vocab_wide(seed, out_dir):
    rng = np.random.default_rng([seed, 2])
    n = WIDE_REVIEWS
    cat_w = 1.0 / np.arange(1, WIDE_CATEGORIES + 1) ** 0.9
    cats = rng.choice(WIDE_CATEGORIES, n, p=cat_w / cat_w.sum())
    cat_names = [f"cat_{word(c)}" for c in range(WIDE_CATEGORIES)]
    lengths = rng.integers(8, 26, n)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    n_tok = int(offsets[-1])
    doc = np.repeat(np.arange(n), lengths)
    ids = zipf_sampler(rng, WIDE_VOCAB, 1.0)(n_tok)
    # a fifth of the tokens come from a small per-category topical set
    topical = rng.random(n_tok) < 0.2
    topic_base = rng.integers(0, WIDE_VOCAB - 2000, WIDE_CATEGORIES)
    ids[topical] = (topic_base[cats[doc[topical]]]
                    + zipf_sampler(rng, 2000, 1.0)(int(topical.sum())))
    # the 100 most frequent types are the stopwords
    n_stop = 100
    words = {}

    def w(i):
        s = words.get(i)
        if s is None:
            s = words[i] = word(int(i))
        return s

    lines = []
    for r in range(n):
        toks = [w(i) for i in ids[offsets[r]:offsets[r + 1]]]
        toks[0] = toks[0].capitalize()
        lines.append(json.dumps({"category": cat_names[cats[r]],
                                 "reviewText": " ".join(toks),
                                 "overall": float(1 + r % 5)}))
    write_parts(out_dir, "reviews", lines)
    with open(os.path.join(out_dir, "stopwords.txt"), "w") as f:
        f.write("\n".join(w(i) for i in range(n_stop)) + "\n")

    # oracle on ids: per-review distinct non-stopword ids, df per (id, cat)
    keep = ids >= n_stop
    dk = np.unique(doc[keep].astype(np.int64) * WIDE_VOCAB + ids[keep])
    d_doc, d_id = dk // WIDE_VOCAB, dk % WIDE_VOCAB
    pk, a = np.unique(d_id * WIDE_CATEGORIES + cats[d_doc], return_counts=True)
    p_id, p_cat = pk // WIDE_CATEGORIES, pk % WIDE_CATEGORIES
    uniq_ids, inv = np.unique(p_id, return_inverse=True)
    wt = np.bincount(inv, weights=a).astype(np.int64)[inv]
    n_docs = np.bincount(cats, minlength=WIDE_CATEGORIES).astype(np.int64)[p_cat]
    total = n
    # graft.chisq.ChiSquare.score, operand for operand
    a_ = a.astype(np.int64).astype(np.float64)
    b_ = (wt - a).astype(np.float64)
    c_ = (n_docs - a).astype(np.float64)
    d_ = (total - wt - n_docs + a).astype(np.float64)
    nn = np.float64(total)
    x = a_ * d_ - b_ * c_
    chi2 = nn * x * x / ((a_ + b_) * (a_ + c_) * (b_ + d_) * (c_ + d_))
    ok = ((a_ + b_) != 0) & ((a_ + c_) != 0) & ((b_ + d_) != 0) & ((c_ + d_) != 0)
    p_id, p_cat, chi2 = p_id[ok], p_cat[ok], chi2[ok]
    # word order: rank of the word string among all scored words
    strs = np.array([w(i) for i in uniq_ids])
    rank_of = dict(zip(uniq_ids[np.argsort(strs, kind="stable")].tolist(),
                       range(len(uniq_ids))))
    wrank = np.fromiter((rank_of[i] for i in p_id.tolist()), np.int64,
                        len(p_id))
    cat_rank = np.argsort(np.argsort(np.array(cat_names)))
    order = np.lexsort((wrank, -chi2, cat_rank[p_cat]))
    rows, taken = [], Counter()
    for j in order.tolist():
        c = int(p_cat[j])
        if taken[c] < K:
            taken[c] += 1
            bits = struct.unpack("<q", struct.pack("<d", float(chi2[j])))[0]
            rows.append(f"{cat_names[c]}\t{w(p_id[j])}\t{bits}")
    with open(os.path.join(out_dir, "expected_topk.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")
    vocab = sorted({r.split("\t")[1] for r in rows})
    with open(os.path.join(out_dir, "expected_vocab.txt"), "w") as f:
        f.write("\n".join(vocab) + "\n")
    per_cat = Counter(cat_names[c] for c in cats.tolist())
    planted = {"reviews": n, "malformed_lines": 0, "tokens": n_tok,
               "categories": len(per_cat),
               "reviews_per_category": dict(sorted(per_cat.items())),
               "distinct_types": int(len(np.unique(ids))),
               "df_rows": int(len(a)), "topk_rows": len(rows)}
    return {"items": n, "planted": planted}


# ---------------------------------------------------------------- neardup_pairs

def gen_neardup_pairs(seed, out_dir):
    rng = np.random.default_rng([seed, 3])
    vocab = [word(i) for i in range(20000)]
    # mild skew: natural shingles stay rare, so only the planted phrases
    # make heavy posting lists and the candidate volume is the same per seed
    pick = zipf_sampler(rng, len(vocab), 0.8)
    # hot shingles: one boilerplate phrase above the stop-shingle ceiling
    # (Dedup.MaxShingleDf = 256), one below it that makes heavy buckets
    hot = [[vocab[i] for i in rng.integers(0, len(vocab), 12)] for _ in range(2)]
    hot_docs = [280, 100]

    n_base = iter(range(DUP_DOCS))

    def base_doc():
        # lengths cycle through 40..160 instead of being drawn, so every seed
        # writes the same number of tokens
        return [vocab[i] for i in pick(40 + next(n_base) * 61 % 121)]

    n_exact, n_edited = 80, 80
    texts, groups, edited = [], [], []
    # group sizes cycle instead of being drawn, so every seed plants the
    # same number of copies and pairs
    for k in range(n_exact):
        t = base_doc()
        g = 2 + k % 3
        groups.append(list(range(len(texts), len(texts) + g)))
        texts.extend([t] * g)
    for k in range(n_edited):
        t = base_doc()
        copies = [t]
        for _ in range(1 + k % 3):
            c = list(t)
            for j in rng.integers(0, len(c), max(1, len(c) // 40)):
                c[j] = vocab[int(rng.integers(len(vocab)))]
            copies.append(c)
        edited.append(list(range(len(texts), len(texts) + len(copies))))
        texts.extend(copies)
    n_planted = len(texts)
    while len(texts) < DUP_DOCS:
        texts.append(base_doc())
    # boilerplate goes into singletons only, so exact groups stay exact
    chosen = rng.permutation(np.arange(n_planted, len(texts)))
    start = 0
    for phrase, cnt in zip(hot, hot_docs):
        for k in chosen[start:start + cnt].tolist():
            pos = int(rng.integers(0, len(texts[k])))
            texts[k] = texts[k][:pos] + phrase + texts[k][pos:]
        start += cnt
    ids = rng.permutation(np.arange(1, 10 * len(texts)))[:len(texts)]
    sources = np.array(["web", "forum", "news", "wiki", "books"])
    langs = np.array(["en", "en", "en", "de", "fr"])
    table = pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array([" ".join(t) for t in texts]),
        "source": pa.array(sources[rng.integers(0, 5, len(texts))]),
        "lang": pa.array(langs[rng.integers(0, 5, len(texts))]),
    })
    order = rng.permutation(len(texts))
    table = table.take(pa.array(order))
    d = os.path.join(out_dir, "documents.parquet")
    os.makedirs(d)
    per = -(-len(texts) // PARTS)
    for p in range(PARTS):
        pq.write_table(table.slice(p * per, per),
                       os.path.join(d, f"part-{p:05d}.parquet"))
    pairs, group_rows = [], []
    for g in groups:
        gi = sorted(int(ids[k]) for k in g)
        group_rows.append(" ".join(map(str, gi)))
        pairs.extend(f"{gi[x]}\t{gi[y]}" for x in range(len(gi))
                     for y in range(x + 1, len(gi)))
    with open(os.path.join(out_dir, "expected_exact_pairs.tsv"), "w") as f:
        f.write("\n".join(sorted(pairs)) + "\n")
    with open(os.path.join(out_dir, "expected_exact_groups.tsv"), "w") as f:
        f.write("\n".join(group_rows) + "\n")
    planted = {"docs": len(texts), "malformed_lines": 0,
               "exact_copy_groups": len(groups), "exact_copy_pairs": len(pairs),
               "edited_copy_groups": len(edited),
               "edited_copies": sum(len(e) - 1 for e in edited),
               "hot_phrase_docs": hot_docs}
    return {"items": len(texts), "planted": planted}


GENERATORS = {"reviews_long": gen_reviews_long, "vocab_wide": gen_vocab_wide,
              "neardup_pairs": gen_neardup_pairs}


def generate(workload, seed, out_dir):
    """Write the workload's inputs for `seed` into the empty dir `out_dir`."""
    info = GENERATORS[workload](seed, out_dir)
    info["bytes"] = sum(os.path.getsize(os.path.join(r, f))
                        for r, _, fs in os.walk(out_dir) for f in fs
                        if r != out_dir)
    info.update(workload=workload, seed=seed)
    write_json(os.path.join(out_dir, "planted.json"), info)
    return info
