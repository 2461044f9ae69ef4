"""HLL sketches count what COUNT(DISTINCT) counts: every non-NULL value,
the empty string included, on the row-grain and the cube path; indexes
whose sketches hashed the bare string form refuse to load."""

import copy

import pytest

from pysparkline import ir, lowering, planner
from pysparkline.index import (
    HLL_FORMAT, CubeSpec, IndexConfig, IndexFormatError, OlapIndex,
)

_VALUES = ["", "a", None, "b", "a"]


@pytest.fixture(scope="module")
def hll_index(spark, tmp_path_factory):
    flat = spark.createDataFrame(
        [(f"1996-01-0{i + 1} 00:00:00", "x", u) for i, u in enumerate(_VALUES)],
        "t string, k string, u string",
    ).selectExpr("CAST(t AS TIMESTAMP) AS ts", "k", "u")
    cfg = IndexConfig(
        time_col="ts",
        hll_cols=["u"],
        cubes=[CubeSpec("k", ("k",), "month")],
    )
    path = str(tmp_path_factory.mktemp("hll") / "idx")
    return OlapIndex.build(spark, flat, cfg, path)


_Q = ir.GroupByQuery(
    dimensions=[ir.DefaultDim("k")],
    aggregations=[ir.HyperUniqueAgg("hu", "u")],
)


@pytest.mark.parametrize("row_grain", [True, False], ids=["raw", "cube"])
def test_hll_counts_empty_string(hll_index, row_grain):
    backing, dec = planner.choose_backing(
        _Q, hll_index, force_row_grain=row_grain
    )
    assert dec.backing == ("flat" if row_grain else "cube"), dec.pretty()
    (row,) = lowering.lower(_Q, backing).collect()
    assert row["hu"] == 3  # '', 'a', 'b'; NULL is not counted


def test_hll_format_stamped_and_required(spark, hll_index):
    d = hll_index.config.to_dict()
    assert d["hllFormat"] == HLL_FORMAT
    # HLL-free configs stay byte-identical (and keep their cache keys)
    assert "hllFormat" not in IndexConfig(time_col="ts").to_dict()
    old = copy.deepcopy(hll_index.manifest)
    del old["config"]["hllFormat"]
    with pytest.raises(IndexFormatError, match="rebuild"):
        OlapIndex(spark, hll_index.path, old)
