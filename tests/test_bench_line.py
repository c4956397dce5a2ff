"""bench.py's stdout contract: the driver keeps only the last ~2000
characters of output, so the one JSON line must fit in 1,900 and
carry EVERY headline key — none may be dropped to make it fit."""

import importlib.util
import json
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_headline_line_fits_with_every_key():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from intelligencepipeline_spark.queries import QUERIES

    assert set(bench.HEADLINE) <= set(QUERIES)
    # the widest realistic figures: 5-char per-entry values at 2 dp
    timings = {name: 88.888 for name in QUERIES}
    line = bench.headline_line(8888.888, 888.888, timings, 0.1)
    assert len(line) <= 1900, len(line)
    got = json.loads(line)
    assert list(got["queries"]) == bench.HEADLINE
    assert got["n_queries"] == len(QUERIES)
    assert got["value"] == 8888.888
