"""Input generators and trace helpers: fast, no Spark."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

import gen_docs
import gen_nsl
import gen_tables
import spans
import workloads


def test_nsl_csv_shape_and_planted_quirks(tmp_path):
    train, test = tmp_path / "train.csv", tmp_path / "test.csv"
    tr, te = gen_nsl.write_pair(str(train), str(test), 25192, 2000, seed=3)
    lines = train.read_text().splitlines()
    assert len(lines) == tr.rows == 25192
    assert all(line.count(",") == 42 for line in lines)      # 43 fields, no header
    frame = pd.read_csv(train, header=None, names=list(gen_nsl.COLUMNS))
    assert (frame["su_attempted"] == 2.0).sum() == tr.su_attempted_2 > 0
    assert frame["num_outbound_cmds"].nunique() == 1
    assert frame["difficulty"].between(0, 21).all()
    to_class = {n: c for c, names in gen_nsl.TRAIN_NAMES.items() for n in names}
    assert set(frame["labels"].map(to_class)) == set(gen_nsl.CLASSES)
    assert tr.attacks == (frame["labels"] != "normal").sum()

    test_frame = pd.read_csv(test, header=None, names=list(gen_nsl.COLUMNS))
    test_only = {n for names in gen_nsl.TEST_ONLY_NAMES.values() for n in names}
    assert set(test_frame["labels"]) & test_only
    assert not set(frame["labels"]) & test_only
    assert te.attacks == (test_frame["labels"] != "normal").sum()


def test_nsl_generator_is_seeded(tmp_path):
    a, _ = gen_nsl.generate(500, seed=9, test=False)
    b, _ = gen_nsl.generate(500, seed=9, test=False)
    c, _ = gen_nsl.generate(500, seed=10, test=False)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(c)


def test_numpy_attribute_ratio_by_hand(tmp_path):
    """The independent AR used by the output check, on a 4-row file."""
    rows = []
    for label, duration, logged_in in (("normal", 1.0, 1.0), ("normal", 3.0, 0.0),
                                       ("neptune", 0.0, 0.0), ("neptune", 4.0, 0.0)):
        frame, _ = gen_nsl.generate(1, seed=0, test=False)
        frame["labels"], frame["duration"], frame["logged_in"] = label, duration, logged_in
        rows.append(frame)
    path = tmp_path / "tiny.csv"
    gen_nsl.write_csv(pd.concat(rows), str(path))
    ar, numeric = workloads.numpy_attribute_ratio(str(path))
    # duration: class means 2.0 and 2.0 over global mean 2.0
    assert ar["duration"] == 1.0
    # logged_in: normal has 1 one / 1 zero, DoS 0 ones / 2 zeros
    assert ar["logged_in"] == 1.0
    assert "num_outbound_cmds" not in numeric


def test_tables_have_catalog_schemas(tmp_path):
    counts = gen_tables.generate(str(tmp_path), sf=0.001, seed=1)
    assert set(counts) == set(gen_tables.TABLES)
    import pyarrow.parquet as pq

    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert str(li.schema.field("l_shipdate").type) == "timestamp[us]"
    assert li.num_rows == counts["lineitem"]
    again = tmp_path / "again"
    gen_tables.generate(str(again), sf=0.001, seed=1)
    assert pq.read_table(again / "orders.parquet").equals(pq.read_table(tmp_path / "orders.parquet"))


def test_doc_shards_plant_what_they_claim(tmp_path):
    stream = gen_docs.DocStream(4)
    base = stream.base_corpus(50)
    shard = stream.shard(100, dup_frac=0.3)
    ids = [d["doc_id"] for d in shard.docs]
    assert len(ids) == len(set(ids)) == 100
    assert not set(ids) & base.novel
    assert len(shard.planted_dups) == 30
    assert shard.novel | shard.planted_dups == set(ids)
    text = {d["doc_id"]: d["text"].split() for d in [*base.docs, *shard.docs]}
    for copy in shard.pair_dups:
        # the in-shard original has a smaller id and differs in one word
        best = max((i for i in shard.novel if i < copy),
                   key=lambda i: sum(a == b for a, b in zip(text[i], text[copy])))
        assert sum(a != b for a, b in zip(text[best], text[copy])) == 1
    path = tmp_path / "s.jsonl"
    gen_docs.write_jsonl(shard, str(path))
    assert [json.loads(line)["doc_id"] for line in path.read_text().splitlines()] == ids


def test_rest_time_parse():
    t = spans._parse_time("2026-01-02T03:04:05.678GMT")
    assert abs(t - np.datetime64("2026-01-02T03:04:05.678").astype("int64") / 1e3) < 1e-6
