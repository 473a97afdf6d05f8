"""Tests of the benchmark's correctness gate, inputs and timing (no Spark
needed).

    python3 -m pytest perfbench/test_checks.py -q
"""

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

from checks import Gate, check_docs, doc_record, record_digest  # noqa: E402
from inputs import (DOC_INDICES, N_DOCS, N_PARTS, N_WAVES,  # noqa: E402
                    make_doc, make_doc_id, part_of_index)
from spark_env import Tracer  # noqa: E402

SEED = 7
INDICES = [0, 1, 6, 7 + 997, 14, 20, 998]


def _records() -> dict:
    """doc_id -> ``doc_record`` of ``extract_document`` for ``INDICES``."""
    from zzzarchived_arxiv_fulltext_spark.functions.extract import (
        extract_document)

    return {make_doc_id(i): doc_record(extract_document(make_doc(i, SEED)[1]))
            for i in INDICES}


def _digests(records: dict) -> dict:
    return {d: record_digest(r) for d, r in records.items()}


def _flip_one_char(record):
    spans, plain, psv, status = record
    kind, text, ref, order = next(s for s in spans if s[0] == "text" and s[1])
    bad = (kind, text[:-1] + chr(ord(text[-1]) ^ 1), ref, order)
    i = spans.index((kind, text, ref, order))
    return spans[:i] + (bad,) + spans[i + 1:], plain, psv, status


def test_matching_output_passes():
    oracle = _digests(_records())
    gate = Gate()
    gate.docs("extract", dict(oracle), oracle, list(oracle))
    assert (gate.attempted, gate.failed) == (len(oracle), 0)


def test_one_flipped_character_in_a_span_fails_its_doc():
    records = _records()
    oracle = _digests(records)
    with_text = [d for d, (spans, *_) in records.items()
                 if any(s[0] == "text" and s[1] for s in spans)]
    assert len(with_text) > 1
    for doc_id in with_text:
        committed = dict(records)
        committed[doc_id] = _flip_one_char(records[doc_id])
        assert check_docs(_digests(committed), oracle, list(oracle)) == [
            doc_id]
        gate = Gate()
        gate.docs("extract", _digests(committed), oracle, list(oracle))
        assert gate.failed == 1 and gate.failed / gate.attempted > 0


def test_missing_doc_fails():
    oracle = _digests(_records())
    committed = dict(oracle)
    committed.pop(next(iter(oracle)))
    assert len(check_docs(committed, oracle, list(oracle))) == 1


def test_doc_without_oracle_fails():
    oracle = _digests(_records())
    missing = next(iter(oracle))
    partial = {d: v for d, v in oracle.items() if d != missing}
    assert check_docs(oracle, partial, list(oracle)) == [missing]


def test_oracle_covers_every_fixture_doc(tmp_path, monkeypatch):
    import layers

    asked = []

    def fake_control(indices, seed, nproc):
        asked.append(list(indices))
        return 0.0, 0, {make_doc_id(i): "x" for i in indices}

    monkeypatch.setattr(layers, "control_pass", fake_control)
    oracle = layers.fixture_oracle(tmp_path, SEED, 1)
    assert asked == [list(DOC_INDICES)]
    assert set(oracle) == {make_doc_id(i) for i in DOC_INDICES}
    assert layers.fixture_oracle(tmp_path, SEED, 1) == oracle  # cached
    assert len(asked) == 1


def test_parts_are_equal_seeded_and_keep_giants_out_of_the_waves():
    parts = part_of_index(SEED)
    assert dict(parts) == dict(part_of_index.__wrapped__(SEED))
    assert dict(parts) != dict(part_of_index(SEED + 1))
    assert sorted(parts) == list(DOC_INDICES)
    assert len(DOC_INDICES) == N_DOCS
    sizes = [list(parts.values()).count(p) for p in range(N_PARTS)]
    assert set(sizes) == {N_DOCS // N_PARTS}
    giants = [p for i, p in parts.items() if i % 997 == 7]
    assert len(giants) == 4 and min(giants) >= N_WAVES


def test_doc_ids_match_the_fixture_generator():
    from zzzarchived_arxiv_fulltext_spark.sources.fixtures import make_doc

    for i in (0, 1, 6, 7, 14, 997, N_DOCS - 1):
        assert make_doc(i, SEED)[0] == make_doc_id(i)


def test_giants_do_not_move_with_the_seed():
    giant, other = 1004, 1005
    assert make_doc(giant, SEED) == make_doc(giant, SEED + 1)
    assert make_doc(other, SEED) != make_doc(other, SEED + 1)


def test_timed_is_net_of_cpu_steal(monkeypatch):
    import workloads

    ticks = iter([(1000, 10), (1075, 35)])  # 75 busy, 25 stolen
    monkeypatch.setattr(workloads, "cpu_jiffies", lambda: next(ticks))
    monkeypatch.setattr(workloads, "now", iter([5.0, 7.0]).__next__)
    ctx = workloads.Ctx(spark=None, seed=SEED, nproc=4, work=HERE,
                        tracer=Tracer(False, "test"), gate=Gate())
    assert workloads._timed(ctx, "op", lambda: "done", "op") == ("done", 1.5)
    assert ctx.gate.attempted == 0
