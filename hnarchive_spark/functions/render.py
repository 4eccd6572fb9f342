"""HTML rendering (SURVEY.md §2.6 F8/F9, §2.5 G2, §2.2 K4, §2.7 E5).

The reference renders item trees with BeautifulSoup (hnarchive.py:292-488);
we emit equivalent HTML by string construction (SURVEY §7 non-goals: DOM
fidelity is not required, structural equivalence is).

Division of labor at scale:
* the rows of a page are gathered level by level, all pages at once
  (``render_pages``): one filter-and-collect job per tree level, not one
  query per node as in the reference;
* the final DOM assembly of ONE page is inherently sequential and tiny
  (one story's comments), so it runs on the driver over the collected
  rows — the same boundary the reference draws, minus the N+1 queries.
"""

from __future__ import annotations

import html as _html
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DATE_FMT = "%Y %b %d %H:%M:%S"


def _display_date(epoch) -> str:
    from datetime import datetime, timezone

    if epoch is None:
        return ""
    return datetime.fromtimestamp(int(epoch), tz=timezone.utc).strftime(DATE_FMT)


def fix_ptags(text: str) -> str:
    """F1 (hnarchive.py:294-304): HN sends `a<p>b<p>c`; rebalance to
    `<p>a</p><p>b</p><p>c</p>`."""
    return "<p>" + text.replace("<p>", "</p><p>") + "</p>"


def item_url(item_id: int) -> str:
    return f"https://news.ycombinator.com/item?id={item_id}"


def user_url(author: str) -> str:
    return f"https://news.ycombinator.com/user?id={author}"


def _author_html(row: dict) -> str:
    author = row.get("author")
    if not author:
        return "[deleted]"  # hnarchive.py:329,342
    return f'<a href="{user_url(author)}">{_html.escape(author)}</a>'


def render_comment(row: dict, children_html: str = "") -> str:
    body = fix_ptags(row["text"]) if row.get("text") else "[deleted]"
    return (
        f'<div class="comment" id="{row["id"]}">'
        f'<span class="author">{_author_html(row)}</span> '
        f'<a href="{item_url(row["id"])}" class="date">{_display_date(row.get("time"))}</a>'
        f'<div class="body">{body}</div>'
        f'<div class="children">{children_html}</div>'
        f"</div>"
    )


def render_story(row: dict, children_html: str = "") -> str:
    title = _html.escape(row.get("title") or "[deleted]")
    href = row.get("url") or item_url(row["id"])
    text = f'<div class="body">{fix_ptags(row["text"])}</div>' if row.get("text") else ""
    score = row.get("score")
    return (
        f'<div class="story" id="{row["id"]}">'
        f'<h1><a href="{_html.escape(href)}">{title}</a></h1>'
        f'<span class="score">{score if score is not None else ""}</span> '
        f'<span class="author">{_author_html(row)}</span> '
        f'<span class="date">{_display_date(row.get("time"))}</span>'
        f"{text}"
        f'<div class="comments">{children_html}</div>'
        f"</div>"
    )


def render_job(row: dict, children_html: str = "") -> str:
    title = _html.escape(row.get("title") or "[deleted]")
    text = f'<div class="body">{fix_ptags(row["text"])}</div>' if row.get("text") else ""
    return (
        f'<div class="job" id="{row["id"]}"><h1>{title}</h1>'
        f'<span class="author">{_author_html(row)}</span>{text}</div>'
    )


def render_pollopt(row: dict) -> str:
    body = fix_ptags(row["text"]) if row.get("text") else "[deleted]"
    return (
        f'<div class="pollopt" id="{row["id"]}">'
        f'<span class="score">{row.get("score") or 0}</span>{body}</div>'
    )


def render_poll(row: dict, opts_html: str = "", children_html: str = "") -> str:
    title = _html.escape(row.get("title") or "[deleted]")
    return (
        f'<div class="poll" id="{row["id"]}"><h1>{title}</h1>'
        f'<span class="author">{_author_html(row)}</span> '
        f'<span class="date">{_display_date(row.get("time"))}</span>'
        f'<div class="pollopts">{opts_html}</div>'
        f'<div class="comments">{children_html}</div></div>'
    )


def _render_subtree(node: dict, children_by_parent: dict, as_root: bool = False) -> str:
    kids = sorted(
        children_by_parent.get(node["id"], []),
        key=lambda r: (r.get("time") or 0, r["id"]),  # Q6 time sort, hnarchive.py:350
    )
    kids_html = "".join(_render_subtree(k, children_by_parent) for k in kids)
    t = node.get("type")
    # F9 type dispatch (hnarchive.py:472-486); bare pollopt root -> empty page
    if t == "story":
        return render_story(node, kids_html)
    if t == "job":
        return render_job(node, kids_html)
    if t == "comment":
        return render_comment(node, kids_html)
    if t == "poll":
        return render_poll(node, node.get("_opts_html", ""), kids_html)
    if t == "pollopt" and as_root:
        return ""
    if t == "pollopt":
        return render_pollopt(node)
    return ""


def _rows(items: DataFrame, cond) -> list[dict]:
    return [r.asDict() for r in items.filter(cond).collect()]


def render_pages(items: DataFrame, root_ids: Sequence[int]) -> dict[int, str]:
    """E5 html_render (hnarchive.py:504-515): one HTML page per root.

    A driver-side level walk over full item rows, all roots at once: the
    first job collects the roots, their children and their poll options
    (Q3); each later job collects the children of the previous level, and
    the walk stops at the first empty level.  N pages of max depth d cost
    d + 1 jobs — the rows each page collected anyway, with no closure
    join-back — then each page is assembled on the driver (G2).
    Returns ``{root_id: html}``; a missing root renders as ``""``.
    """
    roots = list(dict.fromkeys(int(r) for r in root_ids))
    if not roots:
        return {}
    first = _rows(
        items,
        F.col("id").isin(roots) | F.col("parent").isin(roots) | F.col("poll").isin(roots),
    )
    found = set(roots) & {r["id"] for r in first}
    opts: dict[int, list[dict]] = {}
    for r in first:
        if r.get("poll") in found:
            opts.setdefault(r["poll"], []).append(r)

    by_id: dict[int, dict] = {}
    children: dict[int, list[dict]] = {}

    def visit(rows: list[dict]) -> list[int]:
        new = []
        for r in rows:
            if r["id"] in by_id:
                continue
            by_id[r["id"]] = r
            children.setdefault(r.get("parent"), []).append(r)
            new.append(r["id"])
        return new

    level = visit([r for r in first if r["id"] in found or r.get("parent") in found])
    frontier = [i for i in level if i not in found]  # roots' children came in the first job
    while frontier:
        frontier = visit(_rows(items, F.col("parent").isin(frontier)))

    pages = {}
    for rid in roots:
        if rid not in by_id:
            pages[rid] = ""
            continue
        root = dict(by_id[rid])
        kids = children
        p = root.get("parent")
        if p in by_id:  # on a parent cycle the root would render under itself
            kids = {**children, p: [k for k in children[p] if k["id"] != rid]}
        if root.get("type") == "poll":
            ranked = sorted(opts.get(rid, []), key=lambda r: (-(r.get("score") or 0), r["id"]))
            root["_opts_html"] = "".join(render_pollopt(o) for o in ranked)
        body = _render_subtree(root, kids, as_root=True)
        pages[rid] = f"<html><head><title>{rid}</title></head><body>{body}</body></html>"
    return pages


def render_page(items: DataFrame, root_id: int) -> str:
    """One page for one root: ``render_pages`` with a single root."""
    return render_pages(items, [root_id])[int(root_id)]


def render_to_files(
    items: DataFrame, root_ids: Sequence[int], output_template: str | None
) -> dict[int, str]:
    """K4 sink: one page per root; template contains ``{id}``
    (hnarchive.py:510-515). Returns {root_id: html} (also written if a
    template is given). All pages share one level walk."""
    out = render_pages(items, root_ids)
    if output_template:
        for rid, page in out.items():
            with open(output_template.format(id=rid), "w") as fh:
                fh.write(page)
    return out
