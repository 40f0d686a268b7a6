"""Benchmark inputs: the seeded curation corpus gives the same rows and
structures for the same seed; the shipped catalog tables and their
split copy keep the layouts the catalog workloads rely on."""

import inputs
from clara_ocr_spark.oracle import TABLES


def test_curate_plan_repeats_per_seed_and_varies_between_seeds():
    a, b = inputs.curate_plan(600, 5), inputs.curate_plan(600, 5)
    assert a == b
    assert a != inputs.curate_plan(600, 6)


def test_curate_rows_same_seed_same_families_and_chains():
    rows1, ans1 = inputs.curate_rows(300, 11)
    rows2, ans2 = inputs.curate_rows(300, 11)
    assert ans1 == ans2
    assert [r["url"] for r in rows1] == [r["url"] for r in rows2]
    plan = inputs.curate_plan(300, 11)
    assert [len(f) for f in ans1["families"]] == plan["family_sizes"]
    assert [len(c) for c in ans1["chains"]] == plan["chain_lengths"]
    assert len(ans1["boiler"]) == plan["n_boiler"]


def test_curate_rows_structures():
    rows, ans = inputs.curate_rows(300, 3)
    by_url = {r["url"]: r for r in rows}
    assert len(by_url) == len(rows)  # urls are unique
    for fam in ans["families"]:
        assert len({by_url[u]["html"] for u in fam}) == 1
    for chain in ans["chains"]:
        texts = [by_url[u]["text"] for u in chain]
        # successive versions differ, each by one rewritten paragraph
        assert all(a != b for a, b in zip(texts, texts[1:]))
    for u in ans["boiler"]:
        assert by_url[u]["text"] == ""
    n_pdf = sum(r["html"][:5] == b"%PDF-" for r in rows)
    assert n_pdf == inputs.curate_plan(300, 3)["n_pdf"]


def test_shipped_tables_have_one_row_group_each():
    import pyarrow.parquet as pq

    for name in TABLES:
        meta = pq.ParquetFile(f"{inputs.SF01_DIR}/{name}.parquet").metadata
        assert meta.num_rows > 0 and meta.num_row_groups == 1, name


def test_split_copy_has_more_row_groups_and_same_rows(tmp_path):
    import pyarrow.parquet as pq

    src = tmp_path / "one"
    src.mkdir()
    for name in TABLES:
        head = pq.read_table(f"{inputs.SF01_DIR}/{name}.parquet").slice(0, 50)
        pq.write_table(head, src / f"{name}.parquet")
    dst = inputs.write_split_copy(str(src), str(tmp_path / "split"), 4)
    for name in TABLES:
        one = pq.ParquetFile(src / f"{name}.parquet")
        many = pq.ParquetFile(f"{dst}/{name}.parquet")
        assert one.metadata.num_row_groups == 1
        assert many.metadata.num_row_groups >= min(4, one.metadata.num_rows)
        assert one.read().equals(many.read())
