"""G1/G2/E5 tests: recursive-CTE closure on deep/multi-root trees; HTML page
rendering (golden-structure assertions, SURVEY §5.3), its byte parity with
the closure + join path it replaced, and its one-job-per-level cost."""

from __future__ import annotations

import random
import uuid

import pytest

from hnarchive_spark.functions.render import (
    _render_subtree,
    fix_ptags,
    render_page,
    render_pages,
    render_pollopt,
    render_to_files,
)
from hnarchive_spark.operators.tree import tree_closure
from hnarchive_spark.plans import fixtures as FX


def test_closure_depth_and_membership(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    rows = {(r["root_id"], r["id"]): r["depth"] for r in tree_closure(items, [1]).collect()}
    # story 1: chain 1 -> 2 -> 5 -> 6 -> 7 plus siblings 3, 4 and deleted 8
    assert rows[(1, 1)] == 0
    assert rows[(1, 2)] == 1 and rows[(1, 3)] == 1 and rows[(1, 4)] == 1
    assert rows[(1, 5)] == 2 and rows[(1, 6)] == 3 and rows[(1, 7)] == 4
    assert rows[(1, 8)] == 2
    assert (1, 41) not in rows  # pollopts hang off `poll`, not `parent`


def test_closure_multi_root_single_pass(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    out = tree_closure(items, [1, 40]).collect()
    roots = {r["root_id"] for r in out}
    assert roots == {1, 40}
    tree40 = {r["id"] for r in out if r["root_id"] == 40}
    assert tree40 == {40, 44}  # poll + its comment (not its pollopts)


def test_closure_max_depth_bound(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    out = tree_closure(items, [1], max_depth=1).collect()
    assert max(r["depth"] for r in out) == 1


def test_fix_ptags_matches_reference_semantics():
    # hnarchive.py:294-304: 'a<p>b' -> '<p>a</p><p>b</p>'
    assert fix_ptags("a<p>b") == "<p>a</p><p>b</p>"
    assert fix_ptags("plain") == "<p>plain</p>"
    # pre-escaped text is left escaped (reference comment :296-301)
    assert fix_ptags("x &lt;p&gt; y") == "<p>x &lt;p&gt; y</p>"


def test_render_story_page_structure(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    page = render_page(items, 1)
    assert page.startswith("<html>")
    assert 'class="story" id="1"' in page
    assert "Story A" in page
    # deep chain renders nested: comment 7 inside 6 inside 5 inside 2
    assert page.index('id="2"') < page.index('id="5"') < page.index('id="6"') < page.index('id="7"')
    # sibling order under root is by time: 3 (t+100) before 4 (t+200) before 2 (t+300)
    assert page.index('id="3"') < page.index('id="4"') < page.index('id="2"')
    # deleted comment renders [deleted] author and body
    assert "[deleted]" in page
    # unbalanced <p> got repaired
    assert "<p>b</p><p>c</p>" in page


def test_render_poll_page_includes_options(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    page = render_page(items, 40)
    assert 'class="poll" id="40"' in page
    # options sorted by score desc: 41 (10) before 42 (7) before 43 (1)
    assert page.index('id="41"') < page.index('id="42"') < page.index('id="43"')
    # the poll's comment (parent edge) renders in the comments block
    assert 'id="44"' in page


def test_render_job_and_missing_root(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    assert 'class="job" id="20"' in render_page(items, 20)
    assert render_page(items, 99999) == ""


def test_render_to_files(spark, tmp_path):
    from hnarchive_spark.functions.render import render_to_files

    items = FX.items_df(spark, FX.TREE_ITEMS)
    tpl = str(tmp_path / "page_{id}.html")
    out = render_to_files(items, [1, 20], tpl)
    assert set(out) == {1, 20}
    assert (tmp_path / "page_1.html").read_text() == out[1]


# --- level-walk render: parity with the closure + join path, job counts ----


def _closure_rows(items, root_ids) -> list[dict]:
    return [r.asDict() for r in tree_closure(items, root_ids).join(items, "id").collect()]


def _reference_pages(items, root_ids, joined=None) -> dict[int, str]:
    """The render path the level walk replaced, kept as the reference:
    ``tree_closure`` joined back to ``items`` (``joined``, computed here if
    not given), then the same driver assembly, one page per root.  Closure
    rows of a multi-root call are tagged by ``root_id``, so grouping them
    gives each root's own page."""
    if joined is None:
        joined = _closure_rows(items, root_ids)
    pages = {}
    for root_id in root_ids:
        rows = [r for r in joined if r["root_id"] == root_id]
        by_id = {r["id"]: r for r in rows}
        children: dict[int, list[dict]] = {}
        for r in rows:
            p = r.get("parent")
            if p is not None and r["id"] != root_id:
                children.setdefault(p, []).append(r)
        root = by_id.get(root_id)
        if root is None:
            pages[root_id] = ""
            continue
        if root.get("type") == "poll":
            opts = [r.asDict() for r in items.filter(items.poll == root_id).collect()]
            opts.sort(key=lambda r: (-(r.get("score") or 0), r["id"]))
            root["_opts_html"] = "".join(render_pollopt(o) for o in opts)
        body = _render_subtree(root, children, as_root=True)
        pages[root_id] = f"<html><head><title>{root_id}</title></head><body>{body}</body></html>"
    return pages


def _seeded_forest(seed: int) -> tuple[list[dict], list[int]]:
    """Stories, polls with options, a job and comment threads up to six
    levels deep; times drawn from a narrow range so siblings tie and fall
    back to id order.  Returns (rows, roots to render)."""
    rng = random.Random(seed)
    rows: list[dict] = []
    next_id = iter(range(1000, 10_000))

    def thread(parent: int, depth: int) -> None:
        for _ in range(rng.randint(0, 3) if depth < 6 else 0):
            cid = next(next_id)
            gone = rng.random() < 0.1
            rows.append(FX._item(
                cid, parent=parent, deleted=gone,
                author=None if gone else f"user{rng.randint(1, 9)}",
                text=None if gone else rng.choice(["a<p>b<p>c", "plain", "x &amp; y"]),
                time=None if rng.random() < 0.05 else FX.T0 + rng.randint(0, 20),
            ))
            thread(cid, depth + 1)

    roots = []
    for kind in ["story", "story", "story", "poll", "poll", "job"]:
        rid = next(next_id)
        roots.append(rid)
        rows.append(FX._item(rid, kind, author="op", title=f"{kind} {rid}", score=rng.randint(0, 50),
                             url=None if kind != "story" else f"https://{rid}.example",
                             time=FX.T0 + rng.randint(0, 20)))
        if kind == "poll":
            for _ in range(rng.randint(2, 4)):
                rows.append(FX._item(next(next_id), "pollopt", poll=rid, text="opt",
                                     score=rng.choice([None, 0, 3, 3, 9])))
        if kind != "job":
            thread(rid, 1)
    nested = next(r["id"] for r in rows if r["type"] == "comment" and r["parent"] not in roots)
    return rows, roots + [nested, 99999]


@pytest.fixture(scope="module")
def deep_chain(spark, tmp_path_factory):
    """A 150-deep parent chain (past Spark's default 100-level CTE limit),
    read from parquet as the store is, and its closure joined to items."""
    rows = [FX._item(1, "story", author="op", title="deep")]
    rows += [FX._item(i, parent=i - 1, author=f"u{i}", text=f"level {i - 1}", time=FX.T0 + i)
             for i in range(2, 152)]
    path = str(tmp_path_factory.mktemp("deep_chain") / "items")
    FX.items_df(spark, rows).coalesce(1).write.parquet(path)
    items = spark.read.parquet(path)
    return items, _closure_rows(items, [1])


def _job_count(spark, fn):
    """(number of Spark jobs ``fn`` launched, its result)."""
    sc = spark.sparkContext
    group = f"render-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "render job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed by the listener bus
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_closure_past_default_recursion_limit(deep_chain):
    _items, joined = deep_chain
    assert {(r["root_id"], r["id"], r["depth"]) for r in joined} == {(1, i, i - 1) for i in range(1, 152)}


def test_closure_terminates_on_parent_cycle(spark):
    rows = [FX._item(1, "story", parent=2), FX._item(2, parent=1)]
    items = FX.items_df(spark, rows)
    assert {(r["id"], r["depth"]) for r in tree_closure(items, [1]).collect()} == {(1, 0), (2, 1)}
    assert render_page(items, 1) == _reference_pages(items, [1])[1]


def test_render_matches_closure_path_on_fixture(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    roots = [1, 20, 40, 99999]
    ref = _reference_pages(items, roots)
    assert {rid: render_page(items, rid) for rid in roots} == ref
    assert render_pages(items, roots) == ref


def test_render_matches_closure_path_on_seeded_forest(spark):
    rows, roots = _seeded_forest(seed=11)
    items = FX.items_df(spark, rows)
    assert any(r["type"] == "poll" for r in rows if r["id"] in roots)
    ref = _reference_pages(items, roots)
    assert render_pages(items, roots) == ref
    assert all(ref[r] for r in roots[:-1]) and ref[99999] == ""


def test_render_nested_roots_match_closure_path(spark):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    # 5 sits inside 1's tree and 44 inside poll 40's; either order
    for roots in ([1, 5, 40, 44], [44, 5, 1, 40]):
        assert render_pages(items, roots) == _reference_pages(items, roots)


def test_render_deep_chain_matches_closure_path(spark, deep_chain):
    items, joined = deep_chain
    jobs, page = _job_count(spark, lambda: render_page(items, 1))
    assert jobs == 151  # depth 150 + 1
    assert page == _reference_pages(items, [1], joined)[1]
    assert page.count('class="comment"') == 150


def test_render_jobs_are_one_per_tree_level(spark, tmp_path):
    items = FX.items_df(spark, FX.TREE_ITEMS)
    # tree 1 is 4 levels deep (1 -> 2 -> 5 -> 6 -> 7); 20 has none; 40 has one
    assert _job_count(spark, lambda: render_page(items, 1))[0] == 5
    assert _job_count(spark, lambda: render_page(items, 20))[0] == 1
    tpl = str(tmp_path / "page_{id}.html")
    jobs, pages = _job_count(spark, lambda: render_to_files(items, [1, 20, 40], tpl))
    assert jobs == 5
    assert (tmp_path / "page_40.html").read_text() == pages[40]
