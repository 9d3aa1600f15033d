"""The input generators: seeded, and shaped as each workload needs."""

import pandas as pd
import pytest

from kgbench import gen
from kgce import oracle


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_same_seed_same_inputs(name):
    a_pages, a_ev, a_props = gen.GENERATORS[name](7)
    b_pages, b_ev, b_props = gen.GENERATORS[name](7)
    pd.testing.assert_frame_equal(a_pages, b_pages)
    if a_ev is not None:
        pd.testing.assert_frame_equal(a_ev, b_ev)
    assert a_props == b_props
    c_pages, _, _ = gen.GENERATORS[name](8)
    assert list(c_pages["text"]) != list(a_pages["text"])


def test_entity_dense_mentions_are_generated_surfaces():
    """Mentions never merge: each tagged span is one generated surface."""
    import numpy as np

    pages, _, props = gen.entity_dense(3, n_pages=60)
    surfaces, _ = gen.entity_surfaces(np.random.default_rng([0, 1]), props["entity_count"])
    tagged = [m["text"] for t in pages["text"] for m in oracle.page_mentions(t)]
    assert len(tagged) > 60 * 4
    assert set(tagged) <= set(surfaces)


def test_crawl_hygiene_survivors():
    """The expected survivors: one page per distinct normalized text,
    none carrying an eval-set window or repetition spam."""
    pages, ev, props = gen.crawl_hygiene(3, n_pages=400)
    assert 0 < props["contamination_share"] < 0.2
    assert 0 < props["duplicate_share"] < 0.3
    survivors = props["_survivors"]
    # page i's canonical url is https://siteNNN.example/p/i, maybe with ?ref=a
    kept = [pages["text"][int(u.split("/p/")[1].split("?")[0])] for u in survivors]
    assert len({" ".join(t.lower().split()) for t in kept}) == len(kept)
    assert len(kept) < len(pages) * (1 - props["duplicate_share"] - props["spam_share"])
    words = [e[:-1].split(" ") for e in ev["text"]]
    windows = {" ".join(w[i : i + 12]) for w in words for i in range(len(w) - 11)}
    assert not any(w in t for t in kept for w in windows)
    assert not any(t.count("\n") >= 29 for t in kept)
