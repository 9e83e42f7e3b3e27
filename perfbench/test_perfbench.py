"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import ops  # noqa: E402
import reference as R  # noqa: E402
from run import Run  # noqa: E402

SMALL = gen.ConvertSize(grid_x=90, grid_y=40, n_ways=200, n_images=500,
                        refs_hi=60, heavy_tail=True, mega_rings=1)


def test_same_seed_same_inputs_and_seed_independent_sizes():
    a, b = gen.convert_tables(7, SMALL), gen.convert_tables(7, SMALL)
    for name in a:
        assert a[name].equals(b[name])
    c = gen.convert_tables(8, SMALL)
    assert not a["ways"].equals(c["ways"])
    lens = lambda t: sorted(len(r) for r in t["ways"]["refs"].to_pylist())  # noqa: E731
    # the seed moves shapes, not the amount of work
    assert lens(a) == lens(c)
    assert max(lens(a)) <= gen.OSM_MAX_REFS
    assert max(lens(a)) > 1024  # the mega ring exceeds the JVM refine limit


def test_payloads_match_the_engines_codec():
    from osm2shp_spark.functions import image

    t = gen.query_tables(3, n_rows=200, n_payloads=40, n_docs=100)["payloads"].to_pandas()
    for r in t.itertuples():
        arr = image.decode_image(r.bytes, r.fmt)
        assert (arr.shape[1], arr.shape[0]) == (r.w, r.h)
        assert image.average_phash(arr) == r.phash
        assert float(arr.mean()) == r.mean_px


@pytest.fixture(scope="module")
def converted(tmp_path_factory):
    """A generated input plus a correct convert output, written from the
    reference itself in engine.run's layout."""
    base = tmp_path_factory.mktemp("convert")
    in_dir, out_dir = str(base / "in"), str(base / "out")
    gen.write_tables(gen.convert_tables(1, SMALL), in_dir)
    con = R.connect()
    ref = R.ConvertReference(con, in_dir)
    os.makedirs(out_dir)
    for name, tbl in (("ways", "ref_ways"), ("points", "ref_points"),
                      ("images_classified", "ref_classified")):
        con.execute(f"COPY {tbl} TO '{out_dir}/{name}' (FORMAT parquet, PARTITION_BY (layer))")
    return con, ref, in_dir, out_dir


def test_correct_convert_output_passes(converted):
    con, ref, _, out_dir = converted
    assert ref.layer_counts["ways"] and ref.layer_counts["images_classified"]
    run = Run(SimpleNamespace(trace=0), "")
    assert run.fail(ref.check(out_dir))
    assert run.failed == 0


def test_wrong_convert_output_counts_as_failure(converted, tmp_path):
    con, ref, _, out_dir = converted
    bad = str(tmp_path / "bad")
    shutil.copytree(out_dir, bad)
    # move one vertex of one way by a micro-degree
    part = sorted(os.listdir(os.path.join(bad, "ways")))[0]
    path = os.path.join(bad, "ways", part)
    f = os.path.join(path, os.listdir(path)[0])
    con.execute(f"""
COPY (SELECT * EXCLUDE (lons), CASE WHEN row_number() OVER () = 1
        THEN list_transform(lons, x -> x + 1e-6) ELSE lons END AS lons
      FROM read_parquet('{f}')) TO '{f}.new' (FORMAT parquet)""")
    os.replace(f + ".new", f)
    errors = ref.check(bad)
    assert errors == ["ways: content differs from the reference"]
    run = Run(SimpleNamespace(trace=0), "")
    assert not run.fail(errors)
    assert run.failed == 1


def test_wrong_query_result_counts_as_failure(converted, tmp_path):
    con, _, _, out_dir = converted
    q_dir = str(tmp_path / "q")
    gen.write_tables(gen.query_tables(5, n_rows=300, n_payloads=60, n_docs=100), q_dir)
    t = ops.QueryTables(out_dir, f"{q_dir}/qimages.parquet", f"{q_dir}/payloads.parquet",
                        n_knn=100, n_docs=100, n_topk=300)
    for name in ("phash_dups", "knn", "topk"):
        q = next(x for x in ops.QUERIES if x.name == name)
        good = con.execute(q.reference(t)).arrow()
        assert ops.check_query(con, q, t, good) == [], name
        rows = good.to_pylist()
        assert rows, name
        last = good.column_names[-1]
        rows[0][last] = rows[0][last] + (1 if name == "phash_dups" else 1e-3)
        bad = pa.Table.from_pylist(rows, schema=good.schema)
        assert ops.check_query(con, q, t, bad), name


def test_no_program_means_no_result(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout
    assert not (tmp_path / ".perfbench").exists()


def test_union_length_merges_overlaps():
    from spans import _union_length

    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0
    assert np.isclose(_union_length([(0, 1), (0.5, 0.7)]), 1)
