"""The seeded input generator: same seed, same payloads; new seed, new ones.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

from bench import _fixture_md5s
from perfbench import gen


def test_fixture_tables_repeat_per_seed(tmp_path):
    a, b, c = (gen.fixture_tables(s, 0.001) for s in (7, 7, 8))
    assert list(a) == list(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    # region and nation are fixed dimension tables; every seeded table moves
    assert [t for t in gen.TABLES if not a[t].equals(c[t])] == list(gen.TABLES[2:])
    for name, tables in (("a", a), ("b", b), ("c", c)):
        gen.write_fixtures(tables, str(tmp_path / name))
    md5s = {name: _fixture_md5s(str(tmp_path / name)) for name in "abc"}
    assert len(md5s["a"]) == len(gen.TABLES)
    assert md5s["a"] == md5s["b"] != md5s["c"]


def test_hn_forest_repeats_per_seed():
    wire, threads = gen.hn_forest(3, 50)
    assert (wire, threads) == gen.hn_forest(3, 50)
    assert wire != gen.hn_forest(4, 50)[0]


def test_hn_forest_shape():
    wire, threads = gen.hn_forest(5, 200)
    assert sorted(wire) == list(range(1, len(wire) + 1))
    live = {i: w for i, w in wire.items() if w is not None}
    assert 0 < len(wire) - len(live) < 0.05 * len(wire)  # API-null gaps
    for i, w in live.items():
        for edge in ("parent", "poll"):
            if edge in w:
                assert w[edge] < i and live[w[edge]]["time"] <= w["time"]
    # every live item belongs to exactly one thread page
    members = [m for ids in threads.values() for m in ids]
    assert sorted(members) == sorted(live)
    assert {live[r]["type"] for r in threads} <= {"story", "poll", "job"}
    assert any(w.get("deleted") for w in live.values())


def test_page_depth_is_the_median_commented_story_depth():
    from perfbench.workloads import ArchiveWorkload

    for seed in (1, 2, 3):
        wire, threads = gen.hn_forest(seed, ArchiveWorkload.THREADS)
        depth = gen.thread_depths(wire, threads)
        commented = [r for r in threads if wire[r]["type"] == "story" and depth[r] > 0]
        plain = sorted(depth[r] for r in commented)
        weighted = sorted(d for r in commented for d in [depth[r]] * wire[r]["descendants"])
        assert plain[len(plain) // 2] == weighted[len(weighted) // 2] == ArchiveWorkload.PAGE_DEPTH
