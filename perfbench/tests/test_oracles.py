import oracles
import pytest
import stats
import workloads

from goprowl_spark import corpus


def test_crawl_oracle_matches_the_sequential_reference_crawler():
    from tests.oracle.crawler import crawl_oracle

    n, budget, rounds, depth = 2_000, 7, 4, 3
    seeds = [5, 17, 300, 1234, 1999, 42, 43]
    ref_rounds, ref_seen, _ = crawl_oracle(
        n, [corpus.url(i) for i in seeds], depth, default_budget=budget, max_rounds=rounds
    )
    per_round, seen = oracles.crawl_oracle(n, seeds, depth, budget, rounds)
    assert [r["popped"] for r in per_round] == [len(r) for r in ref_rounds]
    assert dict(oracles.seen_pairs(seen)) == {u: d for u, (d, _) in ref_seen.items()}


def test_seen_hash_is_order_insensitive():
    pairs = [("u1", 0), ("u2", 1), ("u3", 1)]
    assert oracles.seen_hash(pairs) == oracles.seen_hash(reversed(pairs))
    assert oracles.seen_hash(pairs) != oracles.seen_hash([("u1", 0), ("u2", 1), ("u3", 2)])


def test_check_topk_tolerates_rounding_and_tie_order():
    oracle = [("a", 2.0), ("b", 1.5), ("c", 1.5), ("d", 1.0)]
    assert oracles.check_topk([("a", 2.00004), ("c", 1.5), ("b", 1.5)], oracle, 3) is None
    assert oracles.check_topk([("a", 2.0), ("b", 1.5), ("d", 1.0)], oracle, 3) is not None
    assert oracles.check_topk([("a", 2.0), ("b", 1.5)], oracle, 3) is not None


def test_rows_match_normalizes_column_order():
    from tools.check_contract import normalize

    rows = [(1, "x", 0.5), (2, "y", 0.25)]
    orows = [("y", 0.2500001, 2), ("x", 0.5, 1)]
    assert oracles.rows_match(rows, ["k", "s", "v"], orows, ["s", "v", "k"], normalize) is None
    assert oracles.rows_match(rows, ["k", "s", "v"], orows[:1], ["s", "v", "k"], normalize)
    bad = [("y", 0.3, 2), ("x", 0.5, 1)]
    assert oracles.rows_match(rows, ["k", "s", "v"], bad, ["s", "v", "k"], normalize)


class _Rows:
    def __init__(self, rows):
        self.rows = rows

    def select(self, *a):
        return self

    def orderBy(self, *a):
        return self

    def collect(self):
        return self.rows


class _Row(dict):
    def asDict(self):
        return dict(self)

    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class _FakeEngine:
    """Serves a crawl's metrics and seen set as the oracle expects them,
    except where a test injects a mismatch."""

    def __init__(self, seeds, rounds, tamper=None):
        per_round, seen = oracles.crawl_oracle(
            workloads.CRAWL_N, seeds, workloads.MAX_DEPTH, workloads.BUDGET, rounds
        )
        self.metric_rows = [_Row(round=i + 1, **r) for i, r in enumerate(per_round)]
        if tamper:
            tamper(self.metric_rows)
        self.seen_rows = [_Row(url=u, depth=d) for u, d in oracles.seen_pairs(seen)]

    def metrics(self):
        return _Rows(self.metric_rows)

    def seen(self):
        return _Rows(self.seen_rows)


@pytest.fixture
def run():
    return workloads.Run(None, "/nonexistent", 0, 10, None)


def test_matching_crawl_has_zero_error_rate(run):
    seeds = workloads._crawl_seeds(1)[:50]
    workloads._crawl_check(run, _FakeEngine(seeds, 2), seeds, 2)
    assert run.failures == {}
    assert stats.error_rate(len(run.failures), 2) == 0.0


def test_injected_oracle_mismatch_raises_error_rate(run):
    seeds = workloads._crawl_seeds(1)[:50]

    def tamper(rows):
        rows[1]["enqueued"] += 1

    workloads._crawl_check(run, _FakeEngine(seeds, 2, tamper), seeds, 2)
    assert list(run.failures) == ["round 2"]
    assert stats.error_rate(len(run.failures), 2) > 0


def test_injected_seen_set_mismatch_fails_the_last_round(run):
    seeds = workloads._crawl_seeds(1)[:50]
    eng = _FakeEngine(seeds, 2)
    eng.seen_rows[0] = _Row(url=eng.seen_rows[0]["url"], depth=9)
    workloads._crawl_check(run, eng, seeds, 2)
    assert list(run.failures) == ["round 2"]
