"""The output checks must catch wrong results: each corruption below
must make the checked operation count as failed."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from checks import check_query, check_shards, eval_split_ids
from harness import job_count_problems, tally

MAX_TOKENS = 64


def _executions(names, passes=3):
    return [(n, True) for _ in range(passes) for n in names]


@pytest.fixture
def result():
    return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})


def test_identical_result_passes(result):
    assert check_query(result, result.iloc[::-1].copy()) == []
    assert tally(_executions(["q", "r"]), set()) == (6, 0)


@pytest.mark.parametrize("corrupt", [
    lambda df: df.iloc[:-1],  # a dropped row
    lambda df: df.assign(v=[0.5, 1.25, 2.5]),  # a changed value
    lambda df: df.rename(columns={"s": "t"}),  # a renamed column
])
def test_corrupted_result_fails(result, corrupt):
    problems = check_query(corrupt(result.copy()), result)
    assert problems
    # every execution of the wrong query counts as failed, in every pass
    assert tally(_executions(["q", "r"]), {"q"}) == (6, 3)


def test_raised_execution_counts_once():
    ex = _executions(["q", "r"], passes=2)
    ex[1] = ("r", False)
    assert tally(ex, set()) == (4, 1)


def _docs(n=12):
    # 60 mostly distinct words including "the": the docs pass
    # gopher_rules and score above 0.5 on quality_score
    rows = []
    for i in range(n):
        toks = ["the"] + [f"w{i}x{j}" for j in range(59)]
        rows.append({"doc_id": i, "text": " ".join(toks), "lang": "en", "source": f"src{i % 3}"})
    return pd.DataFrame(rows)


def _pack(docs: pd.DataFrame, n_shards=2) -> pd.DataFrame:
    out = []
    for shard in range(n_shards):
        pos = 0
        for _, d in docs[docs.doc_id % n_shards == shard].iterrows():
            n = len(d.text.split(" "))
            out.append({**d, "n_tokens": n, "shard_id": shard,
                        "bin_id": pos // MAX_TOKENS, "bin_offset": pos % MAX_TOKENS})
            pos += n
    return pd.DataFrame(out)


def _write(tmp_path, docs, shards):
    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), data / "documents.parquet")
    out = tmp_path / "shards"
    for shard, part in shards.groupby("shard_id"):
        d = out / f"__shard={shard}"
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), d / "part-0.parquet")
    return str(out), str(data)


def _check(tmp_path, shards, docs):
    out, data = _write(tmp_path, docs, shards)
    return check_shards(out, data, max_tokens=MAX_TOKENS, eval_ppm=0, min_quality=0.5)


def test_clean_shards_pass(tmp_path):
    docs = _docs()
    assert _check(tmp_path, _pack(docs), docs) == []


def test_duplicated_doc_fails(tmp_path):
    docs = _docs()
    shards = _pack(docs)
    assert any("duplicate doc_id" in p
               for p in _check(tmp_path, pd.concat([shards, shards.iloc[:1]]), docs))


def test_packing_gap_fails(tmp_path):
    docs = _docs()
    shards = _pack(docs)
    shards.loc[shards.index[-1], "bin_offset"] += 1
    assert any("packing gap" in p for p in _check(tmp_path, shards, docs))


def test_dropped_shard_row_fails(tmp_path):
    docs = _docs()
    shards = _pack(docs).drop(index=1)  # second doc of shard 0 goes missing
    assert any("packing gap" in p for p in _check(tmp_path, shards, docs))


def test_changed_text_fails(tmp_path):
    docs = _docs()
    shards = _pack(docs)
    shards.loc[shards.index[0], "text"] = shards.loc[shards.index[0], "text"] + " x"
    assert any("absent from documents" in p for p in _check(tmp_path, shards, docs))


def test_eval_split_doc_fails(tmp_path):
    docs = _docs()
    out, data = _write(tmp_path, docs, _pack(docs))
    # a split that holds out every doc
    problems = check_shards(out, data, max_tokens=MAX_TOKENS, eval_ppm=1_000_000, min_quality=0.5)
    assert "eval-split docs in shards" in problems


def test_eval_split_matches_the_pipeline_hash():
    # hash_bucket("split", 1e6) is md5-based; spot-check the Python twin
    ids = eval_split_ids(range(20000), 10_000)
    assert 100 < len(ids) < 300


def test_job_counts_must_repeat():
    assert job_count_problems([{"a": 3}, {"a": 3}, {"a": 3}]) == []
    assert job_count_problems([{"a": 3}, {"a": 3}, {"a": 4}])
    assert job_count_problems([{"a": 4}, {"a": 3}])
    # the session-lived serving index is built on the first pass only
    assert job_count_problems([{"ivf_query_index": 19}, {"ivf_query_index": 11}]) == []
