"""Seeded, vectorized page generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical pages.  Random draws are made in bulk with numpy; Python
only joins the drawn words into strings.  Each generator returns
``(pages, eval_docs, props)``:

* ``pages``: a pandas frame in the ``kgce.schemas.PAGES`` layout;
* ``eval_docs``: a ``(doc_id, text)`` frame, or ``None``;
* ``props``: the input properties the run reports; for a workload with
  a hygiene pass, also ``_survivors``, the urls the correctness gate
  expects that pass to keep (keys starting with an underscore are not
  printed).
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pandas as pd

_CONS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")
_SYLLABLES = np.array([c + v for c in _CONS for v in _VOWELS])
# lowercase words the rule tagger tags anyway (kgce.oracle.RULE_LEXICON);
# filler must never contain them
_TAGGED_LOWER = {"customer", "data", "join", "key", "merge", "query",
                 "spark", "table", "vector", "window"}
_SUFFIXES = np.array(["Inc", "Group", "Corp", "Holdings", "Labs", "Partners"])
_N_DOMAINS = 200
_EPOCH = np.datetime64(datetime(2024, 1, 1, tzinfo=timezone.utc).replace(tzinfo=None), "us")


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _words(rng: np.random.Generator, n: int, lo: int, hi: int, exclude=()) -> list[str]:
    """``n`` distinct pseudo-words of ``lo``..``hi`` consonant-vowel
    syllables, in draw order."""
    out: list[str] = []
    seen = set(exclude)
    while len(out) < n:
        k = 2 * (n - len(out)) + 16
        lens = rng.integers(lo, hi + 1, size=k)
        syl = rng.integers(0, len(_SYLLABLES), size=(k, hi))
        for i in range(k):
            w = "".join(_SYLLABLES[syl[i, : lens[i]]])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def _typo(rng: np.random.Generator, name: str) -> str:
    """One lowercase letter of ``name`` replaced by another lowercase
    letter; the first letter keeps its case, so the tagger still fires."""
    pos = [i for i, c in enumerate(name) if c.islower()]
    i = pos[int(rng.integers(len(pos)))]
    c = name[i]
    while c == name[i]:
        c = chr(ord("a") + int(rng.integers(26)))
    return name[:i] + c + name[i + 1 :]


def entity_surfaces(rng: np.random.Generator, n_base: int) -> tuple[list[str], np.ndarray]:
    """Surface forms of ``n_base`` entities and each surface's base index.

    Each entity has a canonical name of two or three capitalized words
    and near-duplicate variants: two corporate suffixes, two one-letter
    typos, a typo plus a suffix, and the name without its first word.
    Most variants sit within the linker's Jaccard threshold of the
    canonical name; the dropped-word form mostly does not.  Variants of
    one entity sit next to each other in the returned list.
    """
    words = _words(rng, 3 * n_base, 2, 3, exclude=_TAGGED_LOWER)
    n_tok = rng.choice([2, 2, 3], size=n_base)
    suf = rng.integers(0, len(_SUFFIXES), size=(n_base, 2))
    surfaces: list[str] = []
    base_of: list[int] = []
    seen: set[str] = set()
    for b in range(n_base):
        toks = [w.capitalize() for w in words[3 * b : 3 * b + n_tok[b]]]
        name = " ".join(toks)
        typo = [_typo(rng, name) for _ in range(2)]
        forms = [
            name,
            f"{name} {_SUFFIXES[suf[b, 0]]}",
            f"{name} {_SUFFIXES[suf[b, 1]]}",
            typo[0],
            typo[1],
            f"{typo[0]} {_SUFFIXES[suf[b, 0]]}",
            " ".join(toks[1:]),
        ]
        for f in forms:
            if f not in seen:
                seen.add(f)
                surfaces.append(f)
                base_of.append(b)
    return surfaces, np.asarray(base_of)


def _urls(rng: np.random.Generator, n: int, domain_zipf: float, messy: bool):
    """Page urls with hot-domain Zipf skew, and each url's canonical form.

    ``messy`` renders each url in one of several variants that differ
    from the canonical form in scheme and host case, default port,
    tracking parameters or fragment.
    """
    dom = rng.choice(_N_DOMAINS, size=n, p=_zipf_probs(_N_DOMAINS, domain_zipf))
    style = rng.integers(0, 4, size=n) if messy else np.zeros(n, dtype=int)
    raw, canon = [], []
    for i in range(n):
        d, s = dom[i], style[i]
        c = f"https://site{d:03d}.example/p/{i}"
        if s == 0:
            r = c
        elif s == 1:
            r = f"HTTP://Site{d:03d}.Example:80/p/{i}?utm_source=feed"
            c = f"http://site{d:03d}.example/p/{i}"
        elif s == 2:
            r = f"https://SITE{d:03d}.example:443/p/{i}?ref=a&utm_medium=x#top"
            c = c + "?ref=a"
        else:
            r = f"{c}#section-{i % 7}"
        raw.append(r)
        canon.append(c)
    return raw, canon


def _frame(urls: list[str], texts: list[str], rng: np.random.Generator) -> pd.DataFrame:
    n = len(urls)
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.Series(_EPOCH + np.arange(n) * np.timedelta64(37, "s")),
            "html": [None] * n,
            "text": texts,
            "lang": np.array(["en", "en", "en", "de", "fr"])[rng.integers(0, 5, size=n)],
        }
    )


def _sentences(
    rng: np.random.Generator,
    k: np.ndarray,
    lead: np.ndarray,
    filler: np.ndarray,
    filler_p: np.ndarray,
    surfaces: np.ndarray,
    surface_p: np.ndarray | None,
) -> list[str]:
    """One sentence per entry of ``k``: ``lead[i]`` filler words, then
    ``k[i]`` entity mentions, each followed by 1-3 filler words, so no two
    mentions merge into one tagged span.
    """
    n_sents = len(k)
    total_m = int(k.sum())
    ments = surfaces[rng.choice(len(surfaces), size=total_m, p=surface_p)]
    gaps = rng.integers(1, 4, size=total_m)
    n_fill = int(lead.sum() + gaps.sum())
    fill = filler[rng.choice(len(filler), size=n_fill, p=filler_p)]
    out = []
    mi = fi = 0
    for s in range(n_sents):
        toks = list(fill[fi : fi + lead[s]])
        fi += lead[s]
        for _ in range(k[s]):
            toks.append(ments[mi])
            toks.extend(fill[fi : fi + gaps[mi]])
            fi += gaps[mi]
            mi += 1
        out.append(" ".join(toks) + ".")
    return out


def _group(items: list[str], counts: np.ndarray) -> list[str]:
    """Join consecutive runs of ``items`` (lengths ``counts``) into pages."""
    ends = np.cumsum(counts)
    starts = ends - counts
    return [" ".join(items[a:b]) for a, b in zip(starts, ends)]


def entity_dense(seed: int, n_pages: int = 1200):
    """Pages dense in capitalized entity mentions.

    A large entity vocabulary with Zipf frequency and near-duplicate
    surface variants gives linking real work: LSH candidates, verified
    pairs and many small components.  Hot domains follow a Zipf skew and
    1% of sentences are long (24 mentions).
    """
    n_base, entity_zipf, domain_zipf = 2000, 1.0, 1.2
    # the vocabularies are the same for every seed, so seeds differ in
    # what is drawn, not in how long the words are
    fixed = np.random.default_rng([0, 1])
    surfaces, base_of = entity_surfaces(fixed, n_base)
    filler = np.array(_words(fixed, 400, 1, 2, exclude=_TAGGED_LOWER))
    # Zipf over entities; within an entity the canonical form dominates
    ent_p = _zipf_probs(n_base, entity_zipf)[fixed.permutation(n_base)]
    rng = np.random.default_rng([seed, 1])
    first = np.r_[True, base_of[1:] != base_of[:-1]]
    surface_p = ent_p[base_of] * np.where(first, 3.0, 1.0)
    surface_p /= surface_p.sum()
    filler_p = _zipf_probs(len(filler), 1.0)
    n_sents = rng.integers(2, 9, size=n_pages)
    total = int(n_sents.sum())
    k = rng.integers(2, 5, size=total)
    # an exact count of long sentences: each one emits ~k²/2 pairs, so a
    # random count would swing the triple count from seed to seed
    k[rng.choice(total, size=round(0.01 * total), replace=False)] = 24
    sents = _sentences(rng, k, rng.integers(0, 4, size=total), filler, filler_p,
                       np.array(surfaces), surface_p)
    urls, _ = _urls(rng, n_pages, domain_zipf, messy=False)
    pages = _frame(urls, _group(sents, n_sents), rng)
    props = {
        "pages": n_pages,
        "text_bytes": _text_bytes(pages),
        "duplicate_share": 0.0,
        "contamination_share": 0.0,
        "surface_count": len(surfaces),
        "entity_count": n_base,
        "entity_zipf": entity_zipf,
        "domain_zipf": domain_zipf,
    }
    return pages, None, props


def _duplicate(rng: np.random.Generator, texts: list[str], frac: float):
    """Overwrite a ``frac`` share of pages with the text of another page,
    spacing varied so only whitespace-normalized dedup catches them."""
    n = len(texts)
    dst = np.flatnonzero(rng.random(n) < frac)
    src = rng.integers(0, n, size=len(dst))
    texts = list(texts)
    for d, s in zip(dst, src):
        if d != s:
            texts[d] = texts[s].replace(". ", ".  ", 1)
    return texts, int((dst != src).sum())


def _text_bytes(pages: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pages["text"]))


def crawl_hygiene(seed: int, n_pages: int = 1000):
    """Crawl-like pages on which the hygiene pass is the largest layer.

    Long filler pages with few entities; a share of exact duplicates
    (whitespace-varied), repetition spam, boilerplate sentences shared
    across pages, pages carrying a 12-word window of an eval document,
    and messy url variants.
    """
    # filler is flat enough (Zipf 0.8) and pages long enough (8+
    # sentences) that no ordinary page comes near the repetition
    # filter's thresholds (at most 0.65 of any threshold over 600 seeds),
    # so the spam pages are exactly the pages that filter drops
    n_eval, word_zipf, domain_zipf = 150, 0.8, 1.2
    dup_frac, spam_frac, boilerplate_frac, contam_frac = 0.12, 0.04, 0.5, 0.05
    fixed = np.random.default_rng([0, 2])  # the same vocabulary for every seed
    vocab = np.array(_words(fixed, 3000, 1, 3, exclude=_TAGGED_LOWER))
    vocab_p = _zipf_probs(len(vocab), word_zipf)
    surfaces, _ = entity_surfaces(fixed, 40)
    rng = np.random.default_rng([seed, 2])
    surf = np.array(surfaces)
    n_sents = rng.integers(8, 16, size=n_pages)
    total = int(n_sents.sum())
    # few entities: 60% of sentences carry none, 20% one, 20% a pair
    k = rng.permutation(np.resize([0, 0, 0, 1, 2], total))
    sents = _sentences(rng, k, rng.integers(6, 15, size=total), vocab, vocab_p, surf, None)
    texts = _group(sents, n_sents)

    templates = [
        " ".join(vocab[rng.choice(len(vocab), size=9, p=vocab_p)]) + "." for _ in range(20)
    ]
    has_bp = rng.random(n_pages) < boilerplate_frac
    bp_pick = rng.integers(0, len(templates), size=(n_pages, 2))
    texts = [
        t + " " + templates[p[0]] + " " + templates[p[1]] if b else t
        for t, b, p in zip(texts, has_bp, bp_pick)
    ]

    evals = [
        " ".join(vocab[rng.choice(len(vocab), size=60, p=vocab_p)]) + "." for _ in range(n_eval)
    ]
    contam = np.flatnonzero(rng.random(n_pages) < contam_frac)
    # distinct windows: one shared by 3 pages would be a boilerplate
    # sentence, stripped before decontamination ever sees it
    ev_pick, ev_off = np.divmod(
        rng.choice(n_eval * 48, size=len(contam), replace=False), 48
    )
    for p, e, o in zip(contam, ev_pick, ev_off):
        window = " ".join(evals[e][:-1].split(" ")[o : o + 12])
        texts[p] = texts[p] + " " + window + "."

    spam = np.flatnonzero(rng.random(n_pages) < spam_frac)
    for p in spam:
        line = " ".join(vocab[rng.choice(50, size=4)])
        texts[p] = "\n".join([line] * 30)
    spam_texts = {texts[p] for p in spam}

    texts, n_dup = _duplicate(rng, texts, dup_frac)
    urls, canon = _urls(rng, n_pages, domain_zipf, messy=True)
    pages = _frame(urls, texts, rng)
    eval_docs = pd.DataFrame({"doc_id": np.arange(n_eval, dtype=np.int64), "text": evals})
    # the gate's ground truth: every page that carries a planted window
    # after duplication (a copy of a contaminated page is contaminated)
    windows = {
        " ".join(evals[e][:-1].split(" ")[o : o + 12]) for e, o in zip(ev_pick, ev_off)
    }
    planted = {canon[i] for i, t in enumerate(texts) if any(w in t for w in windows)}
    survivors = _survivors(texts, canon, lambda t: t in spam_texts or any(w in t for w in windows))
    props = {
        "pages": n_pages,
        "text_bytes": _text_bytes(pages),
        "duplicate_share": n_dup / n_pages,
        "contamination_share": len(planted) / n_pages,
        "boilerplate_share": float(has_bp.mean()),
        "spam_share": len(spam) / n_pages,
        "surface_count": len(surfaces),
        "word_zipf": word_zipf,
        "domain_zipf": domain_zipf,
        "eval_docs": n_eval,
        "_survivors": survivors,
    }
    return pages, eval_docs, props


def _survivors(texts: list[str], canon: list[str], dropped) -> set[str]:
    """The canonical urls a correct hygiene pass keeps: of every group of
    pages whose text is equal up to case and whitespace, the copy with
    the lowest canonical url, unless the text is one ``dropped`` flags
    (repetition spam, or a planted eval-set window).  Boilerplate never
    empties a page here: every page has sentences of its own."""
    keeper: dict[str, int] = {}
    for i, t in enumerate(texts):
        k = " ".join(t.lower().split())
        if k not in keeper or canon[i] < canon[keeper[k]]:
            keeper[k] = i
    return {canon[i] for i in keeper.values() if not dropped(texts[i])}


GENERATORS = {
    "crawl_hygiene": crawl_hygiene,
    "entity_dense": entity_dense,
}
