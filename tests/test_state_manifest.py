"""Manifest loading without Spark: a manifest written before ``seen_rows``
was tracked (key missing or ``null``) loads with the over-estimating
fallback ``seen_rows == next_seq``."""

import json
import os

import pytest

from webcrawl_spark.plans.state import CrawlState


@pytest.mark.parametrize("stored", ["missing", None])
def test_unknown_seen_rows_loads_as_next_seq(tmp_path, stored):
    st = CrawlState(None, str(tmp_path))
    d = {"next_round": 0, "next_seq": 7, "next_fetch_seq": 0,
         "frontier_rows": 3, "done": False}
    if stored != "missing":
        d["seen_rows"] = stored
    with open(os.path.join(str(tmp_path), "_manifests", "round-0.json"), "w") as f:
        json.dump(d, f)
    m = st.latest_manifest()
    assert m.seen_rows == 7
    assert st.manifests() == [m]
