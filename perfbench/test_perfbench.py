"""Tests of the benchmark's own code: the event-log fold and the input
generators. No Spark session is needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import hashlib
import json
from pathlib import Path

import eventlog
import gen_csv
import gen_stream

FIXTURE = Path(__file__).parent / "fixtures" / "tiny_eventlog.jsonl"


def test_fold_tiny_recorded_log():
    jobs, stages = eventlog.fold(str(FIXTURE))
    assert sorted(jobs) == [3, 4, 5]
    assert jobs[5]["desc"] == "pipeline.run_pipeline > pipeline.fix_types"
    assert jobs[5]["stages"] == [6, 7]
    # stage 6 was skipped (its shuffle was reused from stage 5): no record
    assert sorted(stages) == [4, 5, 7]
    assert stages[5] == {
        "tasks": 1.0, "run_ms": 2683.0, "gc_ms": 136.0, "input_bytes": 65536.0,
        "shuffle_write_bytes": 53.0, "spill_bytes": 0.0, "python_bytes": 0.0,
    }


def test_by_description_sums_per_span_path():
    per = eventlog.by_description(*eventlog.fold(str(FIXTURE)))
    fix = per["pipeline.run_pipeline > pipeline.fix_types"]
    assert fix["jobs"] == 2
    assert fix["tasks"] == 2
    assert fix["run_ms"] == 2683.0 + 15.0
    assert fix["scan_tasks"] == 1  # only stage 5 read input
    read = per["pipeline.run_pipeline > sources.read_csv"]
    assert read["input_bytes"] == 473806.0


def _digest(path) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


def test_csv_generator_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    truth_a = gen_csv.generate(str(a), 7, 3000)
    truth_b = gen_csv.generate(str(b), 7, 3000)
    assert _digest(a) == _digest(b)
    assert truth_a == truth_b


def test_csv_generator_other_seed_same_shares(tmp_path):
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    n = 5000
    truth_a = gen_csv.generate(str(a), 1, n)
    truth_b = gen_csv.generate(str(b), 2, n)
    assert _digest(a) != _digest(b)
    for defect, share in gen_csv.SHARES.items():
        tol = 4 * (share * (1 - share) / n) ** 0.5  # four binomial sigmas
        for truth in (truth_a, truth_b):
            assert abs(truth["planted"][defect] / n - share) < tol, defect


def test_csv_ground_truth_matches_file(tmp_path):
    path = tmp_path / "raw.csv"
    truth = gen_csv.generate(str(path), 3, 2000)
    with open(path, encoding="utf-8-sig", newline="") as fh:
        rows = list(csv.DictReader(fh))
    assert list(rows[0]) == gen_csv.RAW_HEADER
    assert len(rows) == truth["rows"] == 2000 + truth["planted"]["duplicate"]
    keys = {(r["Product URL"], r["DispId"]) for r in rows}
    assert len(keys) == 2000  # duplicates share (product_url, dispid)
    asks = sum(r["Price"] in ("Ask Price", "Get Quote") for r in rows)
    dup_asks = asks - truth["planted"]["ask_price"]
    assert 0 <= dup_asks <= truth["planted"]["duplicate"]
    assert sum(truth["curated_by_keyword"].values()) == truth["curated_rows"]
    assert sum(truth["curated_by_region"].values()) == truth["curated_rows"]


def _stream_digest(epochs) -> str:
    return hashlib.sha256("\n".join("\n".join(lines) for lines in epochs).encode()).hexdigest()


def test_stream_generator_same_seed_same_bytes():
    a, truth_a = gen_stream.generate(7, 2, 200)
    b, truth_b = gen_stream.generate(7, 2, 200)
    assert _stream_digest(a) == _stream_digest(b)
    assert truth_a == truth_b


def test_stream_generator_other_seed_same_shares():
    a, truth_a = gen_stream.generate(1, 3, 200)
    b, truth_b = gen_stream.generate(2, 3, 200)
    assert _stream_digest(a) != _stream_digest(b)
    for truth in (truth_a, truth_b):
        for kind, share in gen_stream.SHARES.items():
            assert truth["planted"][kind] == round(3 * 200 * share), kind
        assert truth["admitted_per_epoch"] == [140, 140, 140]
    assert truth_a["admitted_ids"] != truth_b["admitted_ids"]


def test_stream_ground_truth_matches_epochs():
    epochs, truth = gen_stream.generate(3, 2, 100)
    docs = [json.loads(line) for lines in epochs for line in lines]
    assert [d["doc_id"] for d in docs] == list(range(200))
    text = {d["doc_id"]: d["text"] for d in docs}
    unique = truth["admitted_ids"]
    assert len(unique) == len({text[i] for i in unique}) == sum(truth["admitted_per_epoch"])
    copies = [d for d in docs if d["doc_id"] not in set(unique)]
    exact = [d for d in copies if d["text"] in {text[i] for i in unique}]
    assert len(exact) == truth["planted"]["exact_duplicate"]
    for d in copies:  # a copy, whole or all but one word, of a unique doc with a lower id
        words = d["text"].split()
        assert any(
            sum(a != b for a, b in zip(words, text[i].split())) <= 1
            for i in unique if i < d["doc_id"]
        )
