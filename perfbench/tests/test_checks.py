"""The checks report deliberately wrong answers as failures."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
from workloads import Ctx


def _leb128(values):
    out = bytearray()
    for v in values:
        while True:
            b = v & 0x7F
            v >>= 7
            out.append(b | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


@pytest.fixture
def index(tmp_path):
    """A two-term index in the block layout: term 'a' in docs 1, 3, 300;
    term 'b' in docs 3, 7."""
    (tmp_path / "corpus_stats").mkdir()
    pq.write_table(pa.table({"n_docs": [400], "avgdl": [10.0]}), tmp_path / "corpus_stats" / "p.parquet")
    (tmp_path / "blocks").mkdir()
    rows = {
        "term": ["a", "a", "b"],
        "first_doc": [1, 300, 3],
        "doc_deltas": [_leb128([1, 2]), _leb128([300]), _leb128([3, 4])],
        "tfs": [_leb128([2, 1]), _leb128([5]), _leb128([1, 3])],
        "doc_lens": [_leb128([10, 20]), _leb128([200]), _leb128([20, 5])],
    }
    pq.write_table(pa.table(rows), tmp_path / "blocks" / "p.parquet")
    (tmp_path / "doc_map").mkdir()
    pq.write_table(
        pa.table({"doc_id": [1, 3, 7, 300], "url": ["u1", "u3", "u7", "u300"]}),
        tmp_path / "doc_map" / "p.parquet",
    )
    return checks.BruteForceBM25(str(tmp_path))


def test_varints_round_trip():
    vals = [0, 1, 127, 128, 300, 2**40]
    assert checks.varints(_leb128(vals)) == vals


def test_brute_force_scores(index):
    conj = index.scores(["a", "b"], conjunctive=True)
    assert set(conj) == {3}
    disj = index.scores(["a", "b"], conjunctive=False)
    assert set(disj) == {1, 3, 7, 300}
    idf_a = checks.lucene_idf(400, 3)
    want = idf_a * 1 / (1 + checks.K1 * (1 - checks.B + checks.B * 20 / 10.0))
    assert disj[300] == pytest.approx(idf_a * 5 / (5 + checks.K1 * (1 - checks.B + checks.B * 20.0)))
    assert index.scores(["a"], conjunctive=True)[3] == pytest.approx(want)
    assert index.scores(["a", "zzz"], conjunctive=True) == {}
    assert index.urls([3, 300]) == {3: "u3", 300: "u300"}


def test_topk_accepts_the_right_answer_and_rejects_wrong_ones(index):
    truth = index.scores(["a", "b"], conjunctive=False)
    right = sorted(truth.items(), key=lambda x: (-x[1], x[0]))[:2]
    assert checks.topk_matches(right, truth, 2)
    assert not checks.topk_matches(right[:1], truth, 2)  # too short
    assert not checks.topk_matches(right[::-1], truth, 2)  # misordered
    wrong_doc = [right[0], (999, right[1][1])]
    assert not checks.topk_matches(wrong_doc, truth, 2)
    wrong_score = [right[0], (right[1][0], right[1][1] * 1.001)]
    assert not checks.topk_matches(wrong_score, truth, 2)
    third = sorted(truth.items(), key=lambda x: (-x[1], x[0]))[2]
    assert not checks.topk_matches([right[0], third], truth, 2)  # not the top two


def test_topk_allows_either_doc_of_a_tie_at_the_cut():
    truth = {1: 2.0, 2: 1.0, 3: 1.0}
    assert checks.topk_matches([(1, 2.0), (2, 1.0)], truth, 2)
    assert checks.topk_matches([(1, 2.0), (3, 1.0)], truth, 2)


def test_pairs_check_rejects_missing_and_miscounted_pairs():
    sh = {
        0: checks.shingle_set("a b c d e f g h"),
        1: checks.shingle_set("a b c d e f g x"),
        2: checks.shingle_set("q r s t"),
    }
    found = {(0, 1): 5}
    assert checks.pairs_match(found, {(0, 1)}, [(0, 1)], sh, 5)
    assert not checks.pairs_match({}, {(0, 1)}, [], sh, 5)  # planted pair missing
    assert not checks.pairs_match({(0, 1): 6}, {(0, 1)}, [(0, 1)], sh, 5)  # wrong count
    assert not checks.pairs_match({(0, 1): 5}, set(), [(0, 1)], sh, 6)  # below threshold


def test_build_check():
    assert checks.build_matches(10, 55, 10, 55)
    assert not checks.build_matches(9, 55, 10, 55)
    assert not checks.build_matches(10, 54, 10, 55)


class _FakeSparkContext:
    def setJobGroup(self, *_):
        pass


class _FakeSpark:
    sparkContext = _FakeSparkContext()


def test_wrong_and_failed_operations_count_as_failed(tmp_path):
    ctx = Ctx(_FakeSpark(), tmp_path, seed=1, seconds=1.0, traced=False)
    ctx.run_op("q", lambda: [(1, 2.0)])
    ctx.count(checks.topk_matches([(1, 2.0)], {1: 2.0}, 1))
    ctx.run_op("q", lambda: [(1, 2.5)])
    ctx.count(checks.topk_matches([(1, 2.5)], {1: 2.0}, 1))  # wrong answer

    def boom():
        raise RuntimeError("injected")

    _, out = ctx.run_op("q", boom)
    assert out is None
    assert (ctx.attempted, ctx.failed) == (3, 2)
