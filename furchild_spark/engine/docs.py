"""dbt ``docs generate`` analogs: description extraction, the
catalog.json-style warehouse stats section, and a static HTML render.

dbt splits its docs artifact in two: ``manifest.json`` (declared nodes,
configs, edges) and ``catalog.json`` (what is ACTUALLY in the warehouse
— materialized columns, row counts, bytes). The CLI's ``docs`` command
emits both halves in one document; this module supplies the catalog half
and keeps it **metadata-only**: txlog tables answer from their commit
manifest (O(1) — every commit records per-file and total row counts),
parquet tables from their file footers via pyarrow (O(files), driver
side). No Spark job runs — at 100 TB a docs build that scans the
warehouse is a non-starter; one that reads footers finishes in seconds.
"""

from __future__ import annotations

import os


def description_of(model) -> str:
    """A model's description = the first paragraph of its function
    docstring (the rebuild's analog of schema.yml ``description:`` —
    docstrings already carry the reference citation per model)."""
    doc = (model.fn.__doc__ or "").strip()
    if not doc:
        return ""
    para = doc.split("\n\n", 1)[0]
    return " ".join(line.strip() for line in para.splitlines())


def warehouse_catalog(
    warehouse: str, order, registry, table_format: str = "parquet"
) -> dict:
    """The catalog.json half: one stats entry per model that is actually
    materialized in ``warehouse`` (views/ephemerals are correctly
    absent — they have no warehouse presence). The store of
    ``table_format`` reads the stats (engine/store.py)."""
    from .store import make_store

    store = make_store(None, table_format)
    out: dict[str, dict] = {}
    for name in order:
        m = registry[name]
        if m.materialized in ("view", "ephemeral"):
            continue
        path = os.path.join(warehouse, name)
        try:
            stats = store.stats(path)
        except Exception:  # a single unreadable table must not kill docs
            stats = None
        if stats is not None:
            out[name] = stats
    return out


def _esc(s) -> str:
    return (
        str(s)
        .replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def render_html(doc: dict) -> str:
    """One self-contained static page (no JS deps, no server): model
    cards with config, description, columns+types, dependency edges,
    attached checks, and — when the catalog section exists — row/byte
    stats. The artifact a reader opens instead of running ``dag``."""
    cat = doc.get("catalog", {})
    rows = []
    for name in sorted(doc.get("nodes", {})):
        n = doc["nodes"][name]
        deps = n.get("depends_on", {})
        dep_str = ", ".join(
            [f"ref:{r}" for r in deps.get("refs", [])]
            + [f"src:{s}" for s in deps.get("sources", [])]
        ) or "—"
        cols = "".join(
            f"<tr><td><code>{_esc(c)}</code></td><td>{_esc(t)}</td></tr>"
            for c, t in sorted(n.get("columns", {}).items())
        )
        checks = ", ".join(
            f"{_esc(c['name'])} ({_esc(c['severity'])})"
            for c in n.get("checks", [])
        ) or "—"
        stats = cat.get(name)
        stat_str = (
            f"{stats['row_count']:,} rows · {stats['files']} files · "
            f"{stats['bytes']:,} B"
            if stats else ""
        )
        contract = (
            "<p><b>contract:</b> enforced "
            f"({len(n['contract']['columns'])} columns)</p>"
            if n.get("contract") else ""
        )
        rows.append(f"""
<details id="{_esc(name)}">
<summary><b>{_esc(name)}</b> <i>{_esc(n.get('materialized', ''))}</i>
 {stat_str}</summary>
<p>{_esc(n.get('description', ''))}</p>
{contract}
<p><b>depends on:</b> {_esc(dep_str)}</p>
<p><b>checks:</b> {checks}</p>
<table><tr><th>column</th><th>type</th></tr>{cols}</table>
</details>""")
    exp_rows = []
    for name in sorted(doc.get("exposures", {})):
        e = doc["exposures"][name]
        deps = ", ".join(f"ref:{r}" for r in e.get("depends_on", []))
        owner = f" · owner: {_esc(e['owner'])}" if e.get("owner") else ""
        exp_rows.append(f"""
<details id="{_esc(name)}">
<summary><b>{_esc(name)}</b> <i>exposure:{_esc(e.get('type', ''))}</i>
{owner}</summary>
<p>{_esc(e.get('description', ''))}</p>
<p><b>depends on:</b> {_esc(deps)}</p>
</details>""")
    exp_section = (
        f"<h2>exposures</h2>{''.join(exp_rows)}" if exp_rows else ""
    )
    return f"""<!doctype html>
<html><head><meta charset="utf-8"><title>furchild_spark catalog</title>
<style>
body {{ font: 14px/1.5 system-ui, sans-serif; margin: 2rem auto;
       max-width: 60rem; padding: 0 1rem; }}
details {{ border: 1px solid #ddd; border-radius: 6px;
           padding: .5rem .8rem; margin: .4rem 0; }}
summary {{ cursor: pointer; }}
table {{ border-collapse: collapse; margin: .5rem 0; }}
td, th {{ border: 1px solid #eee; padding: .15rem .6rem;
          text-align: left; }}
code {{ background: #f6f6f6; padding: 0 .25rem; }}
i {{ color: #777; }}
</style></head><body>
<h1>furchild_spark catalog</h1>
<p>{len(doc.get('nodes', {}))} models ·
{len(doc.get('sources', []))} sources ·
{len(cat)} materialized tables ·
{len(doc.get('exposures', {}))} exposures</p>
{''.join(rows)}
{exp_section}
</body></html>"""
