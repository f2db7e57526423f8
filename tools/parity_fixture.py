#!/usr/bin/env python3
"""Byte-parity fixture for graft.pipeline.Main (MainSpec's parity tests).

Writes a small seeded review file and the reference pipeline's outputs for
it, computed here with the reference mapper's and reducer's own rules and
nothing from the program: `json.loads` skip, `category or "Unknown"`,
`str.lower`, the stripped character class mapped to a space, `str.split()`,
a per-review `set`, big-int chi2 with one division, float `repr`, `sorted`.
The Python standard library is all it needs.

The reviews plant what a byte comparison must catch:
- the FIXTURES A1 characters: every stripped character, and `< > | ^`,
  which are kept;
- malformed lines, a missing category and a missing reviewText;
- exact chi2 ties that straddle the k-th place, at k=75 (Books) and at
  the small k (Digital_Music);
- an emoji and a fullwidth token of equal, top chi2, and two categories
  named with such characters (UTF-16 order and code-point order disagree
  on them);
- word pairs joined by each whitespace character of `str.split()` that
  Java's `\\s` lacks (U+00A0, U+3000, U+2028 among them);
- words repeated inside one review (the per-review set);
- chi2 values whose double-precision formula is 1 ulp off the exact one
  (their numerators pass 2**53).

Usage:
  python3 tools/parity_fixture.py           # (re)write the fixture
  python3 tools/parity_fixture.py --check   # regenerate into a temp dir and
                                            # diff against the committed files
"""

import argparse
import json
import os
import random
import re
import sys
import tempfile
from collections import Counter, defaultdict

SEED = 9170
K = 75
SMALL_K = 2
MAX_BYTES = 300_000
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   os.pardir, "src", "test", "resources", "parity")

# The reference mapper's stripped character class.
STRIPPED_CHARS = "()[]{}.!?,;:+=-_\"~#@&*%€$§/\\0123456789\t'"
STRIPPED = re.compile("[" + re.escape(STRIPPED_CHARS) + "]")
KEPT = "<>|^"
# Whitespace that str.split() splits on and Java's \s does not.
EXTRA_SPACE = [c for c in map(chr, range(0x110000))
               if c.isspace() and c not in " \t\n\x0b\x0c\r"]

# Category sizes. Books is half of the parsed reviews so that its dominant
# words' chi2 numerators N*(AD-BC)**2 pass 2**53.
# The last two names sort differently by code point and by UTF-16 unit.
SIZES = {"Books": 1500, "Electronics": 420, "Home_and_Kitchen": 360,
         "Pet_Supplie": 160, "Digital_Music": 300, "Toys_and_Games": 220,
         None: 41, "\uFF36inyl": 40, "\U0001D54Dinyl": 40}


def pseudo(prefix, i):
    """Distinct lowercase word `prefix` + base-26 digits of i."""
    s = ""
    while True:
        i, r = divmod(i, 26)
        s = chr(97 + r) + s
        if i == 0:
            return prefix + s


def chi2_exact(a, wt, n, total):
    """The reference's chi2: big-int numerator and denominator, one division."""
    b, c = wt - a, n - a
    d = total - wt - n + a
    if a + b == 0 or a + c == 0 or b + d == 0 or c + d == 0:
        return None
    return total * (a * d - b * c) ** 2 / ((a + b) * (a + c) * (b + d) * (c + d))


def chi2_double(a, wt, n, total):
    """graft.chisq.ChiSquare.score's double formula, in its operand order."""
    a, b, c = float(a), float(wt - a), float(n - a)
    d, n = float(total - wt - n + a), float(total)
    return n * (a * d - b * c) * (a * d - b * c) / ((a + b) * (a + c) * (b + d) * (c + d))


def reviews(rng):
    """The review lines, in file order, and the stopword lines."""
    cats = [c for c, n in SIZES.items() for _ in range(n)]
    rng.shuffle(cats)
    # None: the review has no reviewText, so nothing is planted in it
    docs = [[] if c is None or rng.random() >= 0.08 else None for c in cats]
    texts = [t for t in docs if t is not None]
    of = defaultdict(list)
    for c, t in zip(cats, docs):
        if t is not None:
            of[c].append(t)

    def plant(word, cat, count):
        for t in rng.sample(of[cat], count):
            t.append(word)

    stopwords = [pseudo("s", i) for i in range(24)]
    background = [pseudo("w", i) for i in range(400)]
    for t in texts:
        t += rng.choices(background, k=rng.randint(0, 4))
        t += rng.choices(stopwords, k=rng.randint(0, 2))
    # Books' dominant words: in nearly every Books review, rare elsewhere
    books = len(of["Books"])
    for i in range(16):
        w = pseudo("q", i)
        plant(w, "Books", books - 7 * i - rng.randint(0, 6))
        for c in ("Electronics", "Home_and_Kitchen", "Digital_Music"):
            plant(w, c, rng.randint(0, 9))
    # Books' exclusive tiers; the third straddles k=75
    for tier, (n_words, count) in enumerate([(30, 52), (26, 41), (12, 33)]):
        for j in range(n_words):
            plant(pseudo("x" + "abc"[tier], j), "Books", count)
    # Digital_Music: a three-way top tie that straddles the small k, and a
    # pair of words joined by each extra whitespace character
    for w in ("！！", "\U0001F600", "\U0001D538\U0001D538"):
        plant(w, "Digital_Music", 64)
    for j, sp in enumerate(EXTRA_SPACE):
        plant(pseudo("p", 2 * j) + sp + pseudo("p", 2 * j + 1), "Digital_Music", 48)
    # the kept characters as whole tokens, high in Pet_Supplie
    for w in KEPT:
        plant(w, "Pet_Supplie", 40)
    # a few exclusive words in the other categories
    for c in ("Electronics", "Home_and_Kitchen", "Toys_and_Games"):
        for j in range(6):
            plant(pseudo("e" + c[0].lower(), j), c, 30 + 5 * j)

    for t in texts:
        rng.shuffle(t)
    # every stripped character glued to a Books tier word, so that keeping
    # any one of them changes a count at the k-th place
    tier3 = [t for t in of["Books"] if any(w.startswith("xc") for w in t)]
    for ch, t in zip(STRIPPED_CHARS, rng.sample(tier3, len(STRIPPED_CHARS))):
        j = next(j for j, w in enumerate(t) if w.startswith("xc"))
        t[j] = rng.choice([ch + t[j], t[j] + ch, t[j] + ch + "zq"])
    # case, decorations and repeats; a kept character makes a new token,
    # so only background words get one
    for t in texts:
        for j, w in enumerate(t):
            marks = STRIPPED_CHARS + (KEPT if w[0] == "w" else "")
            u = rng.random()
            if u < 0.04:
                t[j] = w.upper()
            elif u < 0.08:
                t[j] = w + rng.choice(marks)
            elif u < 0.10:
                t[j] = rng.choice(marks) + w
        if t and rng.random() < 0.2:
            t.append(rng.choice(t))

    lines = []
    for c, t in zip(cats, docs):
        obj = {} if c is None else {"category": c}
        if t is not None:
            text = t[:1]
            for w in t[1:]:
                text.append(" " if rng.random() >= 0.03 else
                            rng.choice(["  ", "\n", "\x0b", "\x0c", "\r"] + EXTRA_SPACE))
                text.append(w)
            obj["reviewText"] = "".join(text)
        if rng.random() < 0.1:
            lines.append(json.dumps(obj))
        else:
            lines.append(json.dumps(obj, ensure_ascii=False, separators=(",", ":")))
    for _ in range(12):
        at = rng.randrange(len(lines))
        line = lines[at]
        lines.insert(at, line[:rng.randint(1, len(line) - 1)])
    lines.insert(rng.randrange(len(lines)), "not json at all {{{")
    return lines, stopwords + [stopwords[3]]


def reference(lines, stopwords, k):
    """counters.txt and chisq.txt as the reference writes them."""
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
            scored[cat].append((-s, w, chi2_double(a, word_total[w], per_cat[cat], total)))
    ranked = {cat: sorted(scored[cat]) for cat in scored}
    out, vocab = [], set()
    for cat in sorted(ranked):
        top = ranked[cat][:k]
        vocab.update(w for _, w, _ in top)
        out.append(cat + "\t{" + ", ".join(f"'{w}': {-s!r}" for s, w, _ in top) + "}")
    out.append("[" + ", ".join(f"'{w}'" for w in sorted(vocab)) + "]")
    counters = f"{total} {{" + ", ".join(
        f"'{c}': {per_cat[c]}" for c in sorted(per_cat)) + "}\n"
    return counters, "\n".join(out) + "\n", ranked


def straddles(ranked, k):
    """True if the k-th and (k+1)-th rows tie exactly."""
    return len(ranked) > k and ranked[k - 1][0] == ranked[k][0]


def write(out_dir):
    lines, stopwords = reviews(random.Random(SEED))
    counters, chisq, ranked = reference(lines, stopwords, K)
    _, chisq_small, _ = reference(lines, stopwords, SMALL_K)
    # the fixture must still plant what its tests rely on
    assert straddles(ranked["Books"], K), "no tie at Books' k-th place"
    assert straddles(ranked["Digital_Music"], SMALL_K), "no tie at the small k"
    top = {w: s for s, w, _ in ranked["Digital_Music"][:3]}
    assert set(top) == {"！！", "\U0001F600", "\U0001D538\U0001D538"}
    assert len(set(top.values())) == 1, "emoji and fullwidth do not tie"
    drift = sum(-s != d for rows in ranked.values() for s, _, d in rows[:K])
    assert drift >= 3, f"only {drift} printed chi2 differ in double precision"
    contents = {
        "reviews.json": "\n".join(lines) + "\n",
        "stopwords.txt": "\n".join(stopwords) + "\n",
        "expected_counters.txt": counters,
        "expected_chisq.txt": chisq,
        f"expected_chisq_k{SMALL_K}.txt": chisq_small,
    }
    size = sum(len(v.encode("utf-8")) for v in contents.values())
    assert size <= MAX_BYTES, f"fixture is {size} bytes"
    os.makedirs(out_dir, exist_ok=True)
    for name, text in contents.items():
        with open(os.path.join(out_dir, name), "w", encoding="utf-8", newline="\n") as f:
            f.write(text)
    return drift, size


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--check", action="store_true",
                    help="regenerate into a temp dir and diff against the committed fixture")
    args = ap.parse_args()
    if not args.check:
        drift, size = write(OUT)
        print(f"wrote {os.path.normpath(OUT)}: {size} bytes, "
              f"{drift} printed chi2 differ in double precision")
        return 0
    with tempfile.TemporaryDirectory() as tmp:
        write(tmp)
        stale = []
        for name in sorted(os.listdir(tmp)):
            with open(os.path.join(tmp, name), "rb") as f:
                want = f.read()
            try:
                with open(os.path.join(OUT, name), "rb") as f:
                    got = f.read()
            except FileNotFoundError:
                got = None
            if got != want:
                stale.append(name)
    for name in stale:
        print(f"differs: {name}", file=sys.stderr)
    print("parity fixture " + ("is up to date" if not stale else "is STALE"))
    return 1 if stale else 0


if __name__ == "__main__":
    sys.exit(main())
