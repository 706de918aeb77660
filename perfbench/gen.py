"""Seeded benchmark inputs: a Korean page corpus (with planted near-duplicate
pages and a shared boilerplate phrase) and the query streams.

Everything here is a pure function of the seed and the sizes, and nothing is
imported from the program, so a change to the program cannot change a
workload's inputs.

Words are built from Hangul syllables that the analyzer's dictionary does not
know, so a bare word analyzes to exactly one token (itself). A word followed
by a josa particle analyzes to the eojeol plus its stem (``는`` stays a token
of its own), which gives the index a few particle-class terms in nearly
every page and a long Zipf tail. The README says where each share comes from.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: syllables outside the analyzer's dictionary: any 2-3 syllable word made of
#: them analyzes to itself as a single token
SYLLABLES = (
    "까깐깔깜깡꺼껀껄껌껑꼬꼰꼴꼼꽁꾸꾼꿀꿈꿍끄끈끌끔끙끼낀낄낌낑따딴딸땀땅떠떤떨"
    "떰떵또똔똘똠똥뚜뚠뚤뚬뚱뜨뜬뜰뜸뜽띠띤띨띰띵빠빤빨빰빵뻐뻔뻘뻠뻥뽀뽄뽈뽐뽕"
    "뿌뿐뿔뿜뿡쁘쁜쁠쁨쁭삐삔삘삠삥싸싼쌀쌈쌍써썬썰썸썽쏘쏜쏠쏨쏭쑤쑨쑬쑴쑹쓰"
    "쓴쓸씀씅씨씬씰씸씽짜짠짤짬짱쩌쩐쩔쩜쩡쪼쫀쫄쫌쫑쭈쭌쭐쭘쭝쯔쯘쯜쯤쯩찌찐"
    "찔찜찡칸칼캄캉컨컬컴컹콘콜콤콩쿤쿨쿰쿵크큰클큼킁킨킬킴킹탄탈탐탕턴털텀텅톤"
    "톨톰통툰툴툼퉁튼틀틈틍틴틸팀팅판팔팜팡펀펄펌펑폴폼퐁푼풀품풍플픔픙핀필핌핑"
    "할함항헐험헝혼홀홈홍훈훌훔훙흐흔흘흠흥힌힐힘힝"
)
#: josa particles in falling frequency order (drawn Zipf-weighted)
JOSA = ("는", "을", "의", "에", "이", "를", "가", "은", "에서", "으로", "로", "와", "과", "도")
ENGLISH = (
    "search", "engine", "index", "query", "data", "page", "web", "spark",
    "cluster", "token", "korean", "text", "shard", "score", "result", "crawl",
)

KO_SHARE = 0.95  # fixed by the benchmark's specification
#: share of words that carry a particle; no published rate is used (see README)
JOSA_RATE = 0.35
WORDS_PER_PAGE = (30, 90)
BOILERPLATE_WORDS = 5  # 3 shingles of 3 words: below any min_common >= 4
DUP_EDIT_RATE = 0.08
#: Zipf's exponent for word frequencies, for the corpus and the queries alike
ZIPF_S = 1.0
#: shares (%) of 1-, 2- and 3-term queries in the AltaVista log (Silverstein
#: et al., SIGIR Forum 1999); queries are drawn with these weights
QUERY_LEN_SHARES = (25.8, 26.0, 15.0)
CONJ_SHARE = 0.5  # share of conjunctive queries; no source, see README
COVER_WIDTH = 2_000  # words per cover or fill text
N_WARM = 300  # warm-up queries drawn like the measured ones

def word(i: int) -> str:
    """The ``i``-th vocabulary word; distinct for ``i < len(SYLLABLES)**2``."""
    m = len(SYLLABLES)
    if not 0 <= i < m * m:
        raise ValueError(f"word index {i} out of range")
    w = SYLLABLES[i % m] + SYLLABLES[(i // m) % m]
    if i % 3 == 0:
        w += SYLLABLES[(i * 7 + 3) % m]
    return w


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent generator per input stream, so resizing one stream
    # never shifts another
    return np.random.default_rng([seed, *stream.encode()])


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass(frozen=True)
class Corpus:
    """Pages as parallel columns; ``ranked`` lists the vocabulary by Zipf rank
    (``ranked[0]`` is the most frequent word)."""

    page_id: list[int]
    url: list[str]
    text: list[str]
    lang: list[str]
    ranked: list[str]
    planted: list[tuple[int, int]]
    boilerplate: str

    @property
    def ko_pages(self) -> int:
        return sum(1 for x in self.lang if x == "ko")

    @property
    def ko_text_bytes(self) -> int:
        return sum(len(t.encode()) for t, x in zip(self.text, self.lang) if x == "ko")


def make_corpus(
    seed: int,
    n_pages: int,
    vocab_size: int = 30_000,
    dup_share: float = 0.0,
    boilerplate_share: float = 0.0,
) -> Corpus:
    """``n_pages`` pages: about 95% ``ko``. A ``dup_share`` of the pages are
    near-duplicate copies (about 8% of words replaced) of earlier ``ko``
    pages, listed in ``planted``; a ``boilerplate_share`` of the ``ko`` pages
    open with the same short phrase."""
    rng = _rng(seed, "corpus")
    # the rank order is the same for every seed, so seeds differ in their
    # draws, not in which words (2 or 3 syllables) are frequent
    ranked = [word(int(i)) for i in np.random.default_rng(0).permutation(vocab_size)]
    boiler = " ".join(word(vocab_size + k) for k in range(BOILERPLATE_WORDS))
    probs = zipf_probs(vocab_size, ZIPF_S)
    josa_p = zipf_probs(len(JOSA), 1.0)

    n_dup = int(round(dup_share * n_pages))
    n_orig = n_pages - n_dup
    lengths = rng.integers(WORDS_PER_PAGE[0], WORDS_PER_PAGE[1] + 1, size=n_orig)
    is_ko = rng.random(n_orig) < KO_SHARE
    ranks = rng.choice(vocab_size, size=int(lengths.sum()), p=probs)
    josa_on = rng.random(ranks.size) < JOSA_RATE
    josa_ix = rng.choice(len(JOSA), size=ranks.size, p=josa_p)
    eng_ix = rng.integers(0, len(ENGLISH), size=ranks.size)
    boiler_on = rng.random(n_orig) < boilerplate_share

    words: list[list[str]] = []
    lang: list[str] = []
    at = 0
    for p in range(n_orig):
        sl = slice(at, at + int(lengths[p]))
        at = sl.stop
        if is_ko[p]:
            ws = [
                ranked[r] + JOSA[j] if on else ranked[r]
                for r, on, j in zip(ranks[sl], josa_on[sl], josa_ix[sl])
            ]
            if boiler_on[p]:
                ws = boiler.split() + ws
            lang.append("ko")
        else:
            ws = [ENGLISH[e] for e in eng_ix[sl]]
            lang.append("en")
        words.append(ws)

    planted = []
    ko_ids = [p for p in range(n_orig) if lang[p] == "ko"]
    for d in range(n_dup):
        src = ko_ids[int(rng.integers(0, len(ko_ids)))]
        ws = list(words[src])
        edits = rng.random(len(ws)) < DUP_EDIT_RATE
        repl = rng.choice(vocab_size, size=len(ws), p=probs)
        ws = [ranked[r] if e else w for w, e, r in zip(ws, edits, repl)]
        words.append(ws)
        lang.append("ko")
        planted.append((src, n_orig + d))

    return Corpus(
        page_id=list(range(n_pages)),
        url=[f"https://s{seed % 997:03d}-{p:07d}.example.kr/page" for p in range(n_pages)],
        text=[" ".join(ws) for ws in words],
        lang=lang,
        ranked=ranked,
        planted=planted,
        boilerplate=boiler,
    )


@dataclass(frozen=True)
class Query:
    text: str
    conjunctive: bool


def _query_words(rng, ranked, cdf) -> list[str]:
    """1-3 distinct words drawn by Zipf over the whole ranked vocabulary (a
    repeated term would score twice in a bag query)."""
    len_p = np.asarray(QUERY_LEN_SHARES) / sum(QUERY_LEN_SHARES)
    n_words = int(rng.choice(len(len_p), p=len_p)) + 1
    out: list[str] = []
    while len(out) < n_words:
        w = ranked[min(int(np.searchsorted(cdf, rng.random(), side="right")), cdf.size - 1)]
        if w not in out:
            out.append(w)
    return out


@dataclass(frozen=True)
class ServeInputs:
    """The ``search_serve`` inputs, in the order the workload uses them."""

    cover: list[str]  # texts holding each word of the queries below once
    fill: list[str]  # texts holding the whole vocabulary, most frequent last
    warm: list[Query]
    stream: list[Query]


def serve_stream(seed: int, ranked: list[str], n_queries: int) -> ServeInputs:
    """The ``search_serve`` closed-loop inputs.

    The ``N_WARM`` warm-up queries and the measured stream draw their words
    by Zipf over the whole vocabulary, the same law as the corpus, so the
    terms a stream asks for spread far past any cache that holds fewer terms
    than the vocabulary. A match count over each cover text caches the df of
    every word the queries use; the fill texts then pass the whole
    vocabulary through the block cache, so it starts full and holds the most
    frequent words."""
    rng = _rng(seed, "serve")
    cdf = np.cumsum(zipf_probs(len(ranked), ZIPF_S))

    def one() -> Query:
        ws = _query_words(rng, ranked, cdf)
        return Query(" ".join(ws), bool(rng.random() < CONJ_SHARE))

    warm = [one() for _ in range(N_WARM)]
    stream = [one() for _ in range(n_queries)]
    used = sorted({w for q in warm + stream for w in q.text.split()})
    rising = ranked[::-1]
    return ServeInputs(
        cover=[" ".join(used[i : i + COVER_WIDTH]) for i in range(0, len(used), COVER_WIDTH)],
        fill=[" ".join(rising[i : i + COVER_WIDTH]) for i in range(0, len(rising), COVER_WIDTH)],
        warm=warm,
        stream=stream,
    )


def batch_queries(seed: int, ranked: list[str], n: int) -> list[str]:
    """Query texts for ``search_bulk``, drawn like the serving stream."""
    rng = _rng(seed, "bulk")
    cdf = np.cumsum(zipf_probs(len(ranked), ZIPF_S))
    return [" ".join(_query_words(rng, ranked, cdf)) for _ in range(n)]


def sample(seed: int, stream: str, n_items: int, k: int) -> list[int]:
    """``k`` distinct seeded indexes below ``n_items`` (all when fewer), sorted."""
    rng = _rng(seed, stream)
    return sorted(int(i) for i in rng.permutation(n_items)[: min(k, n_items)])
