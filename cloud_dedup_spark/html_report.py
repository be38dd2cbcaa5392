"""Self-contained HTML summary — the reference's HTML sink analog (S4).

The reference renders a five-section HTML report from its result dict
(``render_html``, src/cloud_duplicate_analyzer.py:823-1386).  The graft keeps
the same discipline: rendering is DRIVER-side presentation over the small
collected report dict (report.py) — never a Spark operator, never shipped to
executors (SURVEY.md §2.1 S4: "keep out of executors").

Sections mirror the reference's: 1 overview totals, 2 pairwise stats,
3 edge-kind/conflict summary, 4 folder relationships, 5 safe dedup roots.
"""

from __future__ import annotations

import html


def human_size(n: float) -> str:
    """B/KB/MB/GB/TB/PB ladder — reference ``human_size`` (:92-97) parity."""
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if abs(n) < 1024.0:
            return f"{n:.1f} {unit}" if unit != "B" else f"{int(n)} B"
        n /= 1024.0
    return f"{n:.1f} PB"


def _table(headers: list[str], rows: list[list]) -> str:
    head = "".join(f"<th>{html.escape(str(h))}</th>" for h in headers)
    body = "".join(
        "<tr>" + "".join(f"<td>{html.escape(str(c))}</td>" for c in r) + "</tr>"
        for r in rows
    )
    return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>"


def file_sym(kind: str | None, n_repos: int = 1) -> tuple[str, str]:
    """(symbol, css class) for a file classification — reference ``_file_sym``
    decision ladder (src/cloud_duplicate_analyzer.py:719-734) mapped onto the
    graft's edge kinds:

      ★ exact duplicate · ✓ near duplicate · ↪ substring containment ·
      ⚠ shared name, no duplicate edge (content conflict) · ◆ unique
    """
    if kind == "exact":
        return ("★", "sym-is")
    if kind == "near":
        return ("✓", "sym-id")
    if kind == "substring":
        return ("↪", "sym-sub")
    if n_repos >= 2:
        return ("⚠", "sym-dd")
    return ("◆", "sym-uniq")


def badge(n: int, cls: str = "badge") -> str:
    """Small count badge — reference ``badge`` helper (:737-742) parity."""
    return f"<span class='{cls}'>{n}</span>"


def _build_folder_tree(fc_list: list[dict]) -> dict:
    """Nested {name: {"_fc": row|None, "_children": {...}}} from the flat
    folder list — reference ``_build_folder_tree`` (:736-757) semantics with
    the graft's '' root convention."""
    tree: dict = {}
    for fc in sorted(fc_list, key=lambda x: x["folder"]):
        path = fc["folder"]
        if path == "":
            tree.setdefault("(root)", {"_fc": None, "_children": {}})
            tree["(root)"]["_fc"] = fc
            continue
        parts = path.split("/")
        node = tree
        for part in parts[:-1]:
            node = node.setdefault(part, {"_fc": None, "_children": {}})[
                "_children"
            ]
        node.setdefault(parts[-1], {"_fc": None, "_children": {}})
        node[parts[-1]]["_fc"] = fc
    return tree


def _render_tree_node(
    name: str, node: dict, folder_files: dict[str, list]
) -> str:
    """One collapsible <details> node with per-file symbol lines, recursing
    into children — reference tree renderer (:1041-1124)."""
    fc = node["_fc"]
    rel = fc["relationship"] if fc else ""
    files = folder_files.get(fc["folder"], []) if fc else []
    summary = (
        f"<summary><b>{html.escape(name)}</b>"
        + (f" <span class='rel'>{html.escape(rel)}</span>" if rel else "")
        + (f" {badge(len(files))}" if files else "")
        + "</summary>"
    )
    lines = []
    for fi in files:
        sym, cls = file_sym(fi.get("kind"), fi.get("n_repos", 1))
        lines.append(
            f"<div class='tree-file'><span class='{cls}'>{sym}</span> "
            f"{html.escape(fi['name'])}</div>"
        )
    children = "".join(
        _render_tree_node(child, node["_children"][child], folder_files)
        for child in sorted(node["_children"])
    )
    return (
        f"<div class='tree-node'><details>{summary}"
        + "".join(lines)
        + children
        + "</details></div>"
    )


_LEGEND = (
    "<p class='legend'>★ exact duplicate · ✓ near duplicate · "
    "↪ substring containment · ⚠ shared name, differing content · "
    "◆ unique to one repo</p>"
)


def _group_details(report: dict) -> str:
    """Per-group drill-down tables (reference sections 4/5 detail rows,
    :900-1040): one collapsible block per duplicate cluster, members listed
    with their classification symbol."""
    details = report.get("duplicate_group_details", [])
    if not details:
        return "<p>none</p>"
    blocks = []
    for g in details:
        rows = []
        for m in g["members"]:
            sym, cls = file_sym(m.get("kind"), g["n_repos"])
            rows.append(
                f"<div class='tree-file'><span class='{cls}'>{sym}</span> "
                f"{html.escape(m['repo'])}:{html.escape(m['path'])}</div>"
            )
        blocks.append(
            f"<div class='tree-node'><details><summary>cluster "
            f"{g['cluster_id']} {badge(g['n_files'])} files · "
            f"{g['n_repos']} repos</summary>" + "".join(rows) + "</details></div>"
        )
    return "".join(blocks) + _LEGEND


def _folder_tree_section(report: dict) -> str:
    fc_list = report.get("folder_comparisons", [])
    if not fc_list:
        return ""
    tree = _build_folder_tree(fc_list)
    folder_files = report.get("folder_files", {})
    return (
        "<h3>Folder tree</h3>"
        + "".join(
            _render_tree_node(name, tree[name], folder_files)
            for name in sorted(tree)
        )
        + _LEGEND
    )


def render_html(report: dict) -> str:
    """Render the collected report dict (report.build_report) to one page."""
    total = report["total_files"]
    per_repo_rows = [
        [repo, n, f"{100.0 * n / total:.1f}%"]  # A10: per-repo percentage
        for repo, n in sorted(report["per_repo_files"].items())
    ]
    pairwise_rows = [[k, v] for k, v in sorted(
        report["pairwise_duplicate_clusters"].items())]
    hist_rows = [[k, v] for k, v in sorted(
        report["folder_relationship_histogram"].items())]
    cluster_rows = [[size, n] for size, n in sorted(
        report["cluster_size_histogram"].items(), key=lambda kv: int(kv[0]))]
    edge_rows = [[k, v] for k, v in sorted(report["edge_kinds"].items())]
    unique_rows = [[k, v] for k, v in sorted(
        report["unique_files_per_repo"].items())]
    roots = report["safe_dedup_roots"]

    sections = [
        "<h2>1. Overview</h2>"
        + f"<p>Total files: <b>{total}</b> · clusters (≥2 members): "
        + f"<b>{report['n_clusters']}</b></p>"
        + _table(["repo", "files", "share"], per_repo_rows),
        "<h2>2. Pairwise duplicate clusters</h2>"
        + _table(["repo pair", "clusters"], pairwise_rows),
        "<h2>3. Edges and uniques</h2>"
        + _table(["edge kind", "count"], edge_rows)
        + _table(["repo", "unique files"], unique_rows)
        + _table(["cluster size", "count"], cluster_rows),
        "<h2>4. Duplicate groups (detail)</h2>" + _group_details(report),
        "<h2>5. Folder relationships</h2>"
        + _table(["relationship", "folders"], hist_rows)
        + _folder_tree_section(report),
        "<h2>6. Safe dedup roots</h2>"
        + (
            "<ul>" + "".join(f"<li><code>{html.escape(r)}</code></li>"
                             for r in roots) + "</ul>"
            if roots else "<p>none</p>"
        ),
    ]
    style = (
        "body{font-family:sans-serif;margin:2em;max-width:60em}"
        "table{border-collapse:collapse;margin:1em 0}"
        "td,th{border:1px solid #999;padding:.25em .6em;text-align:left}"
        "h2{margin-top:1.4em}"
        ".sym-is{color:#0a7d00;font-weight:bold}"
        ".sym-id{color:#2a6fb0}"
        ".sym-sub{color:#7d4fb0}"
        ".sym-dd{color:#c25b00}"
        ".sym-dp{color:#c20000}"
        ".sym-uniq{color:#888}"
        ".badge{background:#e8e8e8;border-radius:8px;padding:0 .5em;"
        "font-size:11px;margin-left:.4em}"
        ".rel{color:#666;font-size:12px;margin-left:.4em}"
        ".legend{font-size:12px;color:#888}"
        ".tree-node{margin-left:1em}"
        ".tree-file{margin-left:2.2em;font-size:13px}"
        "details>summary{cursor:pointer;margin:.15em 0}"
        ".warn-banner{background:#f8d7da;color:#721c24;border:1px solid "
        "#f5c6cb;border-radius:6px;padding:10px 14px;margin:14px 0}"
    )
    # scan-warnings banner (reference :859-872): rendered before section 1 so
    # incomplete-input caveats precede every number they qualify
    warnings = report.get("scan_warnings") or []
    banner = ""
    if warnings:
        items = "".join(f"<li>{html.escape(w)}</li>" for w in warnings)
        banner = (
            "<div class='warn-banner'><b>⚠ Scan warnings</b> — results may "
            f"be incomplete<ul>{items}</ul></div>"
        )
    return (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        f"<title>cloud-dedup-spark report</title><style>{style}</style></head>"
        "<body><h1>cloud-dedup-spark report</h1>"
        + banner
        + "".join(sections)
        + "</body></html>"
    )
