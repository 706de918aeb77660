import gen


def _corpus(seed):
    return gen.make_corpus(seed, 400, vocab_size=3_000, dup_share=0.05, boilerplate_share=0.1)


def test_same_seed_gives_identical_inputs():
    a, b = _corpus(7), _corpus(7)
    assert a == b
    assert "\n".join(a.text).encode() == "\n".join(b.text).encode()
    assert gen.serve_stream(7, a.ranked, 500) == gen.serve_stream(7, b.ranked, 500)
    assert gen.batch_queries(7, a.ranked, 50) == gen.batch_queries(7, b.ranked, 50)


def test_other_seed_gives_other_inputs():
    a, b = _corpus(7), _corpus(8)
    assert a.text != b.text
    assert a.planted != b.planted
    assert gen.serve_stream(7, a.ranked, 500) != gen.serve_stream(8, a.ranked, 500)
    assert gen.batch_queries(7, a.ranked, 50) != gen.batch_queries(8, a.ranked, 50)


def test_corpus_shape():
    c = _corpus(3)
    assert 0.85 < c.ko_pages / len(c.text) < 1.0
    assert len(c.planted) == 20
    for a, b in c.planted:
        assert a < b and c.lang[a] == c.lang[b] == "ko"
    with_boiler = [t for t, lang in zip(c.text, c.lang) if t.startswith(c.boilerplate + " ")]
    assert with_boiler and len(c.boilerplate.split()) == gen.BOILERPLATE_WORDS


def test_cover_and_fill_texts():
    c = _corpus(5)
    got = gen.serve_stream(5, c.ranked, 100)
    used = {w for q in got.warm + got.stream for w in q.text.split()}
    cover = " ".join(got.cover).split()
    assert sorted(cover) == sorted(used)
    fill = " ".join(got.fill).split()
    assert sorted(fill) == sorted(c.ranked)
    assert fill[-1] == c.ranked[0]


def test_query_words_spread_over_the_whole_vocabulary():
    c = _corpus(5)
    got = gen.serve_stream(5, c.ranked, 4_000)
    warm, stream = got.warm, got.stream
    assert len(warm) == gen.N_WARM
    rank = {w: r for r, w in enumerate(c.ranked)}
    lens = [len(q.text.split()) for q in stream]
    assert set(lens) == {1, 2, 3}
    assert all(len(set(q.text.split())) == n for q, n in zip(stream, lens))
    # Zipf (s = 1) over 3,000 words puts about 13% of draws in the upper
    # two thirds of the ranks
    ranks = [rank[w] for q in stream for w in q.text.split()]
    beyond = sum(r >= 1_000 for r in ranks) / len(ranks)
    assert 0.10 < beyond < 0.20
    assert 0.4 < sum(q.conjunctive for q in stream) / len(stream) < 0.6


def test_words_are_distinct():
    words = [gen.word(i) for i in range(20_000)]
    assert len(set(words)) == len(words)
