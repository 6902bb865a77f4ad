"""dbt-style command line for the model DAG.

The reference project's daily driver is ``dbt run`` / ``dbt test`` /
``dbt build`` / ``dbt source freshness`` (reference: dbt_project.yml);
this is the same surface over the Spark Runner:

    python -m furchild_spark ls
    python -m furchild_spark build --bronze DIR --warehouse DIR
    python -m furchild_spark run   --models stg_orders,fct_orders --incremental
    python -m furchild_spark run   --models stg_orders+ --exclude fct_customers+
    python -m furchild_spark snapshot --bronze DIR --warehouse DIR
    python -m furchild_spark test  --bronze DIR --warehouse DIR
    python -m furchild_spark freshness --bronze DIR --now 2024-03-05T00:00:00
    python -m furchild_spark show fct_orders --bronze DIR -n 5
    python -m furchild_spark gen-fixtures --bronze DIR

Bronze sources are parquet files named ``<source>.parquet`` under
``--bronze`` (``gen-fixtures`` writes the deterministic demo set there).
Exit codes mirror dbt: 0 success, 1 failing error-severity checks or
stale sources, 2 usage errors.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import re
import sys


def _parse_now(s: str | None):
    """--now omitted = the real wall clock (dbt's run_started_at), in UTC
    to match the bronze timestamps. Passing None through would silently
    disable the freshness gate (lag vs NULL compares to 'fresh') and
    crash the lag printout. Offset-carrying ISO inputs
    (2024-03-05T00:00:00+02:00) are normalized to naive UTC — freshness
    lag arithmetic subtracts naive bronze timestamps, and mixing aware
    with naive raises TypeError (r5 ADVICE)."""
    if s is None:
        return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    parsed = dt.datetime.fromisoformat(s)
    if parsed.tzinfo is not None:
        parsed = parsed.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return parsed


def _make_runner(args, spark):
    from furchild_spark.engine.registry import Runner
    from furchild_spark.models import registry

    reg = registry
    if getattr(args, "sql_models", False):
        # --sql-models: the reference's OWN .sql files become the
        # executable source for every compilable model (the other
        # models keep their Python fns) — same configs, selectors,
        # checks, hooks, and governance, different transform text
        from furchild_spark.engine.dbt_yaml import reference_dir
        from furchild_spark.engine.sql_compiler import with_sql_models

        project = reference_dir()
        if project is None:
            _usage_error("--sql-models needs a dbt project checkout "
                         "(set REFERENCE_DIR)")
        reg = with_sql_models(registry, project)

    def sources(name: str):
        return spark.read.parquet(f"{args.bronze}/{name}.parquet")

    return Runner(
        spark,
        reg,
        sources=sources,
        warehouse_dir=args.warehouse,
        incremental=args.incremental,
        full_refresh=getattr(args, "full_refresh", False),
        empty=getattr(args, "empty", False),
        variables=json.loads(args.vars) if args.vars else None,
        now=_parse_now(args.now),
        table_format=args.table_format,
        defer_to=getattr(args, "defer_to", None),
        backfill_start=(
            dt.datetime.fromisoformat(args.event_time_start)
            if getattr(args, "event_time_start", None) else None
        ),
        backfill_end=(
            dt.datetime.fromisoformat(args.event_time_end)
            if getattr(args, "event_time_end", None) else None
        ),
    )


def _probe_runner(args, spark):
    """A VIEW-ONLY runner for plan-construction-time introspection — no
    Spark action and (critically) no warehouse writes even when the
    caller passed --warehouse."""
    # empty=False even under --empty: probe plans feed lineage and the
    # state-selector fingerprints, which must hash identically whether a
    # run is a dry run or a full build (otherwise an --empty CI manifest
    # would mark every model state:modified against a real run's).
    probe = argparse.Namespace(
        **{**vars(args), "warehouse": None, "empty": False}
    )
    return _make_runner(probe, spark)


def _observed_lineage(args, spark, roots=None):
    """Harvest the ref()/source() DAG through a view-only probe runner.
    ``roots=None`` resolves every registered model (needed for
    descendant walks and the dag listing); a roots list resolves only
    those models — ref() recurses, so each root's full ANCESTOR cone is
    still recorded, and an unrelated model that fails at plan time can't
    abort a run whose selected cone is healthy. Returns the probe runner
    too: its memoized lazy plans are what state-selector fingerprints
    hash, so callers never pay a second plan pass."""
    from furchild_spark.models import registry

    runner = _probe_runner(args, spark)
    for name in (registry.names() if roots is None else roots):
        runner.ref(name)
    return runner.lineage, list(registry.names()), runner


def _usage_error(msg: str):
    # match argparse's p.error contract: message to stderr, exit 2
    print(f"furchild_spark: error: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _parse_graph_tokens(toks, known, flag, allow_at=False):
    """Validate ``name`` / ``+name`` / ``name+`` / ``+name+`` /
    ``@name`` selector tokens against the registry; returns
    [(name, up, down, at)]. dbt's at-operator (``@model`` = the model,
    its descendants, AND the ancestors of those descendants — "everything
    needed to build and consume it") is select-only, like dbt."""
    parsed = []
    for t in toks:
        at = t.startswith("@")
        if at and not allow_at:
            _usage_error(
                f"the @ operator is select-only (dbt semantics): {t!r}"
            )
        core = t.removeprefix("@")
        up, down = core.startswith("+"), core.endswith("+")
        if at and (up or down):
            _usage_error(
                f"@ does not compose with +/trailing + (it already "
                f"selects both cones): {t!r}"
            )
        name = core.removeprefix("+").removesuffix("+")
        if not name or "+" in name or "@" in name:
            _usage_error(f"malformed {flag} selector: {t!r}")
        if name not in known:
            _usage_error(f"unknown model in {flag} selector: {name!r}")
        parsed.append((name, up, down, at))
    return parsed


def _expand_graph(parsed, lineage, order) -> set:
    """Expand parsed graph selectors to the selected set over the
    observed lineage (parents = refs edges, children = the reverse)."""
    parents = {n: set(lineage.get(n, {}).get("refs", [])) for n in order}
    children: dict[str, set] = {n: set() for n in order}
    for n, ps in parents.items():
        for pnt in ps:
            children.setdefault(pnt, set()).add(n)

    def closure(start: str, edges: dict) -> set:
        seen, stack = set(), [start]
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            stack.extend(edges.get(x, ()))
        return seen

    selected: set = set()
    for name, up, down, at in parsed:
        selected.add(name)
        if up:
            selected |= closure(name, parents)
        if down:
            selected |= closure(name, children)
        if at:
            desc = closure(name, children)
            selected |= desc
            for d in desc:
                selected |= closure(d, parents)
    return selected


def _names(args, spark=None) -> list[str] | None:
    """--models list, with dbt graph selectors: ``+name`` = name and its
    ancestors, ``name+`` = name and its descendants, ``+name+`` = both —
    plus dbt slim-CI state selectors: ``state:modified`` = models whose
    plan fingerprint differs from the ``--state`` manifest,
    ``state:modified+`` = those plus their descendant cone. Selector
    expansion resolves against the OBSERVED lineage (a view-only plan
    pass), so it needs the session — plain lists don't. May return an
    EMPTY list (state selectors with nothing modified): that means
    "build nothing", distinct from None's "build everything".

    ``--exclude`` (dbt semantics: EXCLUSION WINS over any selection)
    subtracts its own graph-selector expansion from the result; with no
    --models it subtracts from the full registry, so the return value
    degrades from None to an explicit everything-minus list."""
    cache: dict = {}
    included = _included_names(args, spark, _cache=cache)
    exclude = getattr(args, "exclude", None)
    if not exclude:
        return included
    from furchild_spark.models import registry

    order = list(registry.names())
    toks = exclude.split(",")
    bad = [t for t in toks if t.startswith(("state:", "result:"))]
    if bad:
        _usage_error(
            f"state:/result: selectors are not supported in --exclude: "
            f"{bad[0]!r}"
        )
    parsed = _parse_graph_tokens(toks, set(order), "--exclude")
    if any(up or down for _, up, down, _at in parsed):
        # exclusion cones need the observed DAG — but reuse the full
        # probe the --models expansion already paid for when it did,
        # and keep ancestor-only exclusions on the named-cone probe
        # (ref() recursion records each root's full ancestor cone) so
        # an unrelated broken model can't abort the run
        if "full" in cache:
            lineage, order, _ = cache["full"]
        elif not any(down for _, _, down, _at in parsed):
            lineage, order, _ = _observed_lineage(
                args, spark, roots=[n for n, _, _, _ in parsed]
            )
        else:
            lineage, order, _ = _observed_lineage(args, spark)
        excluded = _expand_graph(parsed, lineage, order)
    else:
        excluded = {n for n, _, _, _ in parsed}
    base = included if included is not None else order
    return [n for n in base if n not in excluded]


def _included_names(args, spark=None, _cache=None) -> list[str] | None:
    """The --models half of the selection (see _names). ``_cache``, when
    a dict, receives the full-registry lineage probe under ``"full"`` if
    this expansion performed one — _names reuses it for --exclude cones
    instead of re-probing."""
    if getattr(args, "selector", None):
        if args.models:
            _usage_error(
                "--selector and --models/--select are mutually exclusive "
                "(dbt semantics: a named selector IS the selection)"
            )
        return _selector_names(args, spark, _cache=_cache)
    if not args.models:
        # dbt's default selector: with no --select/--selector, a
        # selectors.yml entry marked `default: true` IS the selection
        import os as _os

        path = getattr(args, "selectors_file", None) or "selectors.yml"
        if _os.path.exists(path):
            selectors = _load_selectors_file(path)
            defaults = [s for s in selectors.values() if s.get("default")]
            if len(defaults) > 1:
                _usage_error(
                    f"multiple selectors marked default in {path!r}: "
                    f"{sorted(s['name'] for s in defaults)}"
                )
            if defaults:
                print(
                    f"# using default selector {defaults[0]['name']!r} "
                    f"from {path}",
                    file=sys.stderr,
                )
                sel = _eval_selector_definition(
                    args, spark, defaults[0]["definition"], _cache
                )
                from furchild_spark.models import registry

                return [n for n in registry.names() if n in sel]
        return None
    return _expand_token_list(args, spark, args.models.split(","), _cache)


def _match_group(reg, gname, t, at, trail) -> list[str]:
    """dbt 1.5 group selectors: group:NAME = every model owned by the
    group."""
    hits = [n for n in reg.names() if reg[n].group == gname]
    if not hits:
        _usage_error(
            f"group:{gname!r} matches no models (declared groups: "
            f"{sorted({reg[n].group for n in reg.names() if reg[n].group})})"
        )
    return hits


def _match_tag(reg, tag, t, at, trail) -> list[str]:
    """dbt tag selectors: tag:NAME = every model carrying the tag."""
    if at and trail:
        _usage_error(f"{t!r}: '@' already selects descendants — "
                     "use @tag:NAME or tag:NAME+")
    hits = [n for n in reg.names() if tag in reg[n].tags]
    if not hits:
        _usage_error(f"tag:{tag!r} matches no models (declared "
                     "tags: "
                     f"{sorted({x for n in reg.names() for x in reg[n].tags})})")
    return hits


def _match_version(reg, which, t, at, trail) -> list[str]:
    """dbt 1.5 version selectors: version:latest / version:old /
    version:prerelease (versions above the declared latest) /
    version:none (unversioned models)."""
    if which not in ("latest", "old", "prerelease", "none"):
        core = f"version:{which}"
        _usage_error(
            f"unknown version selector: {core!r} (supported: "
            "version:latest/old/prerelease/none)"
        )
    hits = []
    for n in reg.names():
        m = reg[n]
        if m.version is None:
            if which == "none":
                hits.append(n)
            continue
        latest = reg.latest_version(m.base_name)
        if (
            (which == "latest" and m.version == latest)
            or (which == "old" and m.version < latest)
            or (which == "prerelease" and m.version > latest)
        ):
            hits.append(n)
    if not hits:
        _usage_error(f"version:{which!r} matches no models")
    return hits


# model-set selector methods, expanded in this order; the graph operators
# compose with each (+METHOD:V = the ancestor cones, METHOD:V+ = the
# descendant cones, @METHOD:V = the descendants and their ancestors).
# Each matcher gets (registry, value, token, "@" or "", "+" or "") and
# returns the matching models or exits with a usage error.
_SELECTOR_METHODS = {
    "group": _match_group,
    "tag": _match_tag,
    "version": _match_version,
}


def _expand_token_list(args, spark, toks, _cache=None) -> list[str]:
    """Expand one comma-free token LIST through the full selector
    grammar (graph operators, @, tag:, exposure:, state:, result:) —
    the shared engine behind --models and named YAML selectors."""
    from furchild_spark.models import registry as _reg

    if any("exposure:" in t for t in toks):
        # dbt exposure selectors: exposure:NAME = the exposure's direct
        # dependencies; +exposure:NAME = their full ancestor cones. An
        # exposure has no descendants, so a trailing + is an error.
        exposures = _reg.exposures()
        expanded = []
        for t in toks:
            # '@' composes with any selector method in dbt (dbt-core
            # graph_selector: '@' is an operator, not part of the method)
            at = "@" if t.startswith("@") else ""
            core = t.removeprefix("@").removeprefix("+")
            if not core.startswith("exposure:"):
                expanded.append(t)
                continue
            ename = core.removeprefix("exposure:")
            if ename.endswith("+"):
                _usage_error(f"{t!r}: exposures have no descendants — "
                             "use exposure:NAME or +exposure:NAME")
            if ename not in exposures:
                _usage_error(f"unknown exposure: {ename!r} "
                             f"(declared: {sorted(exposures)})")
            pre = at or ("+" if t.startswith("+") else "")
            expanded.extend(pre + d for d in exposures[ename].depends_on)
        toks = expanded
    for method, match in _SELECTOR_METHODS.items():
        if not any(f"{method}:" in t for t in toks):
            continue
        expanded = []
        for t in toks:
            at = "@" if t.startswith("@") else ""
            core = t.removeprefix("@").removeprefix("+")
            trail = "+" if core.endswith("+") else ""
            core = core.removesuffix("+")
            if not core.startswith(f"{method}:"):
                expanded.append(t)
                continue
            hits = match(_reg, core.removeprefix(f"{method}:"), t, at, trail)
            pre = at or ("+" if t.startswith("+") else "")
            expanded.extend(pre + h + trail for h in hits)
        toks = expanded
    # dbt selection alias model.vN -> the node name model_vN
    toks = [
        t if t in _reg.names() else re.sub(
            r"^([@+]*)([A-Za-z0-9_]+)\.v(\d+)(\+?)$", r"\1\2_v\3\4", t
        )
        for t in toks
    ]
    state_toks = [t for t in toks if t.startswith("state:")]
    result_toks = [t for t in toks if t.startswith("result:")]
    graph_toks = [
        t for t in toks
        if not t.startswith("state:") and not t.startswith("result:")
    ]
    if not state_toks and not result_toks and not any(
        t.startswith(("+", "@")) or t.endswith("+") for t in graph_toks
    ):
        return graph_toks

    known = set(_reg.names())
    parsed = _parse_graph_tokens(graph_toks, known, "--models", allow_at=True)
    for t in state_toks:
        if t not in ("state:modified", "state:modified+"):
            _usage_error(f"unknown state selector: {t!r} "
                         "(supported: state:modified, state:modified+)")
        if not getattr(args, "state", None):
            _usage_error("state: selectors need --state PATH "
                         "(a manifest.json from a prior run)")
    valid_results = {
        f"result:{s}{plus}"
        for s in ("error", "skipped", "success")
        for plus in ("", "+")
    }
    for t in result_toks:
        if t not in valid_results:
            _usage_error(f"unknown result selector: {t!r} (supported: "
                         "result:error/skipped/success, optional +)")
        if not getattr(args, "state_results", None):
            _usage_error("result: selectors need --state-results PATH "
                         "(a run_results.json from a prior run)")
    # descendant walks and state fingerprints need the whole graph;
    # ancestor-only selectors probe just the named cones, so an
    # unrelated broken model can't abort the run
    roots = (
        None
        if state_toks or result_toks
        or any(d or a for _, _, d, a in parsed)
        else [n for n, _, _, _ in parsed]
    )
    lineage, order, probe = _observed_lineage(args, spark, roots=roots)
    if _cache is not None and roots is None:
        _cache["full"] = (lineage, order, probe)

    def cones(names, down: bool) -> set:
        # names, plus their descendant cones when the selector ends in +
        return _expand_graph(
            [(n, False, down, False) for n in names], lineage, order
        )

    selected = _expand_graph(parsed, lineage, order)
    if state_toks:
        from furchild_spark.engine import state as ST

        prior = ST.load_manifest(args.state)
        # fingerprints hash the probe's already-built lazy plans — no
        # second plan pass, no Spark action
        current = ST.build_manifest(probe)
        mods = ST.modified_models(prior, current)
        selected |= cones(mods, any(t.endswith("+") for t in state_toks))
    if result_toks:
        with open(args.state_results) as fh:
            prior_results = json.load(fh).get("results", {})
        for t in result_toks:
            status = t.removeprefix("result:").removesuffix("+")
            matched = [
                n for n, r in prior_results.items()
                if r.get("status") == status and n in known
            ]
            selected |= cones(matched, t.endswith("+"))
    return [n for n in order if n in selected]


def _load_selectors_file(path: str) -> dict:
    """Parse a dbt ``selectors.yml``: returns name -> selector entry."""
    import os

    import yaml

    if not os.path.exists(path):
        _usage_error(f"selectors file not found: {path!r}")
    try:
        data = yaml.safe_load(open(path)) or {}
    except yaml.YAMLError as e:
        _usage_error(f"malformed selectors file {path!r}: {e}")
    entries = data.get("selectors")
    if not isinstance(entries, list) or not entries:
        _usage_error(f"{path!r} has no 'selectors:' list")
    out = {}
    for s in entries:
        if not isinstance(s, dict) or "name" not in s or "definition" not in s:
            _usage_error(
                f"every selector needs 'name' and 'definition': got {s!r}"
            )
        out[s["name"]] = s
    return out


def _eval_selector_definition(args, spark, defn, _cache) -> set:
    """Recursively evaluate a dbt selector ``definition``:

    - a STRING is a comma-separated token list in the CLI grammar
      (``tag:nightly,+fct_orders,@stg_items`` — commas are union)
    - ``{method: M, value: V}`` is the token ``M:V`` (method ``fqn``
      means a plain model name); optional ``children``/``parents`` bools
      and ``children_of_parents`` map to the +/@ operators
    - ``{union: [...]}`` / ``{intersection: [...]}`` combine arms;
      ``{exclude: [...]}`` arms subtract from their enclosing
      union/intersection (dbt's rule)
    """
    if isinstance(defn, str):
        toks = [x for x in defn.split(",") if x]
        return set(_expand_token_list(args, spark, toks, _cache))
    if not isinstance(defn, dict):
        _usage_error(f"unsupported selector definition: {defn!r}")
    if "method" in defn:
        method, value = str(defn["method"]), str(defn.get("value", ""))
        tok = value if method in ("fqn", "path") else f"{method}:{value}"
        if defn.get("children_of_parents"):
            tok = "@" + tok
        else:
            if defn.get("parents"):
                tok = "+" + tok
            if defn.get("children"):
                tok = tok + "+"
        return set(_expand_token_list(args, spark, [tok], _cache))
    for op in ("union", "intersection"):
        if op not in defn:
            continue
        arms = defn[op]
        if not isinstance(arms, list) or not arms:
            _usage_error(f"selector {op}: needs a non-empty list")
        include_sets, exclude_sets = [], []
        for arm in arms:
            if isinstance(arm, dict) and "exclude" in arm:
                for ex in arm["exclude"]:
                    exclude_sets.append(
                        _eval_selector_definition(args, spark, ex, _cache)
                    )
                continue
            include_sets.append(
                _eval_selector_definition(args, spark, arm, _cache)
            )
        if not include_sets:
            _usage_error(f"selector {op}: needs at least one non-exclude arm")
        acc = set(include_sets[0])
        for s in include_sets[1:]:
            acc = acc | s if op == "union" else acc & s
        for s in exclude_sets:
            acc -= s
        return acc
    _usage_error(
        f"unsupported selector definition keys: {sorted(defn)!r} "
        "(supported: a token string, method/value, union, intersection, "
        "exclude)"
    )


def _selector_names(args, spark, _cache=None) -> list[str]:
    """Resolve ``--selector NAME`` against ``--selectors-file`` (default
    ./selectors.yml) — dbt's named YAML selectors, evaluated through the
    same token grammar as --models."""
    from furchild_spark.models import registry

    path = getattr(args, "selectors_file", None) or "selectors.yml"
    selectors = _load_selectors_file(path)
    name = args.selector
    if name not in selectors:
        _usage_error(
            f"unknown selector {name!r} (defined in {path!r}: "
            f"{sorted(selectors)})"
        )
    sel = _eval_selector_definition(
        args, spark, selectors[name]["definition"], _cache
    )
    return [n for n in registry.names() if n in sel]


def _write_state_manifest(args, spark) -> str | None:
    """dbt writes target/manifest.json after every run; the analog here
    is ``<warehouse>/manifest.json`` — the fingerprint baseline a later
    ``--models state:modified+ --state <path>`` diffs against."""
    if not args.warehouse:
        return None
    import os

    from furchild_spark.engine import state as ST

    _, _, probe = _observed_lineage(args, spark)
    path = os.path.join(args.warehouse, "manifest.json")
    ST.save_manifest(ST.build_manifest(probe), path)
    return path


def _write_run_results(args, runner) -> str | None:
    """dbt's run_results.json: per-model status (success/error/skipped)
    and build seconds — the artifact ``--models result:error+`` retries
    from."""
    if not args.warehouse or not runner.run_results:
        return None
    import os

    path = os.path.join(args.warehouse, "run_results.json")
    with open(path, "w") as fh:
        json.dump(
            {"results": runner.run_results}, fh, indent=1, sort_keys=True
        )
    return path


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="furchild_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--bronze", help="dir of <source>.parquet files")
        sp.add_argument("--warehouse", help="materialization dir (omit = view-only run)")
        sp.add_argument(
            "--models", "--select", dest="models",
            help="comma-separated subset (default: all); --select is the "
                 "dbt-1.0+ spelling, --models the legacy alias — same "
                 "selector grammar either way; exposure:NAME selects a "
                 "declared exposure's dependencies (+exposure:NAME = "
                 "their ancestor cones)",
        )
        sp.add_argument(
            "--exclude",
            help="comma-separated models to EXCLUDE from the selection "
                 "(dbt --exclude: exclusion wins over --models; graph "
                 "selectors +name/name+ exclude whole cones)",
        )
        sp.add_argument(
            "--selector",
            help="named selector from the selectors file (dbt "
                 "selectors.yml); mutually exclusive with --models",
        )
        sp.add_argument(
            "--selectors-file", dest="selectors_file",
            default="selectors.yml",
            help="path to the selectors YAML (default: ./selectors.yml)",
        )
        sp.add_argument(
            "--threads", type=int, default=1,
            help="dbt --threads: build independent DAG branches on N "
                 "concurrent threads (each in its own FAIR scheduler pool)",
        )
        sp.add_argument("--incremental", action="store_true")
        sp.add_argument(
            "--full-refresh", action="store_true", dest="full_refresh",
            help="dbt --full-refresh: force incremental models through "
                 "their from-scratch branch and overwrite-materialize "
                 "(txlog: a new version, history intact); a model's "
                 "full_refresh=False config opts it out",
        )
        sp.add_argument(
            "--warn-error", action="store_true", dest="warn_error",
            help="dbt --warn-error: treat warn-severity check/freshness "
                 "results as failures (exit 1) — the strict-CI switch",
        )
        sp.add_argument(
            "--empty", action="store_true",
            help="dbt 1.8 --empty: schema-only dry run — every source() "
                 "and deferred ref() is limited to ZERO rows, so the DAG "
                 "executes, contracts validate, and materializations "
                 "write real schemas against no data (the cheap CI gate "
                 "before a full build)",
        )
        sp.add_argument("--table-format", default="parquet",
                        choices=["parquet", "txlog"])
        sp.add_argument("--vars", help="JSON object of dbt-style variables")
        sp.add_argument("--now", help="frozen clock, ISO timestamp")
        sp.add_argument(
            "--state",
            help="prior manifest.json for state: selectors (dbt slim CI); "
                 "run/build write one to <warehouse>/manifest.json",
        )
        sp.add_argument(
            "--state-results",
            help="prior run_results.json for result: selectors (dbt "
                 "retry); run writes one to <warehouse>/run_results.json",
        )
        sp.add_argument(
            "--defer-to", dest="defer_to", metavar="DIR",
            help="dbt --defer: resolve refs to models OUTSIDE the "
                 "selection from this (e.g. production) warehouse "
                 "instead of rebuilding them",
        )
        sp.add_argument(
            "--event-time-start", dest="event_time_start", metavar="ISO",
            help="dbt backfill window start for microbatch models "
                 "(rebuild exactly [start, end) instead of the derived "
                 "newest-data-minus-lookback window)",
        )
        sp.add_argument(
            "--event-time-end", dest="event_time_end", metavar="ISO",
            help="dbt backfill window end (exclusive); requires "
                 "--event-time-start",
        )
        sp.add_argument(
            "--seeds", help="dir of <seed>.csv files registered as seed "
                            "models (dbt seed-paths)")
        sp.add_argument(
            "--store-failures", action="store_true", dest="store_failures",
            help="dbt --store-failures: write each check's failure rows "
                 "to <warehouse>/_test_failures/<check> for triage",
        )
        sp.add_argument(
            "--fail-fast", action="store_true",
            help="abort on the first model failure (dbt --fail-fast); "
                 "default mirrors dbt: independent branches keep "
                 "building, failures and skips are reported at the end",
        )
        sp.add_argument(
            "--sql-models", action="store_true", dest="sql_models",
            help="execute the dbt project's own .sql files (compiled "
                 "Snowflake→Spark) for every compilable model instead of "
                 "the Python ports — configs/selectors/checks unchanged; "
                 "needs REFERENCE_DIR pointing at the checkout",
        )
        sp.add_argument(
            "--known-red", dest="known_red", metavar="CHECK[,CHECK...]",
            help="comma-separated check names whose failures are expected "
                 "(e.g. a declared source contract the observed data "
                 "deliberately violates): they are still run and reported "
                 "(KNOWN-RED), but do not fail the exit code — so CI can "
                 "gate on UNEXPECTED failures only; a listed check that "
                 "unexpectedly PASSES is flagged",
        )

    for c in ("ls", "run", "build", "test", "seed", "retry", "snapshot"):
        common(sub.add_parser(
            c, help="list registered models (takes the same selectors "
                    "as run; graph/state selectors need --bronze)"
            if c == "ls" else None,
        ))
    fr = sub.add_parser("freshness")
    common(fr)
    fr.add_argument(
        "--output",
        help="also write dbt's sources.json artifact (per-source status/"
             "lag/thresholds, the file CI gates consume)",
    )
    dg = sub.add_parser(
        "dag", help="print the observed model lineage (dbt docs equivalent)"
    )
    common(dg)
    dg.add_argument("--json", action="store_true", dest="as_json")
    dg.add_argument(
        "--columns", metavar="MODEL.COLUMN",
        help="column-level lineage: print the source columns feeding one "
             "output column (resolved from the analyzed plan; no Spark "
             "action); MODEL.* walks every output column",
    )
    dc = sub.add_parser(
        "docs",
        help="emit a dbt-docs-style JSON manifest: every model's config, "
             "resolved output columns, observed dependencies, and attached "
             "checks (pure plan introspection, no Spark action)",
    )
    common(dc)
    dc.add_argument("--output", help="write JSON here instead of stdout")
    dc.add_argument(
        "--html",
        help="also render a self-contained static HTML catalog page here "
             "(dbt docs serve's artifact, minus the server)",
    )
    cp = sub.add_parser(
        "compile",
        help="dbt compile analog: render a dbt model's .sql (Jinja ref/"
             "source/config/var) and print the Snowflake→Spark compiled "
             "text with its relation placeholders and dependency list "
             "(no Spark session, no execution)",
    )
    cp.add_argument("model", help="model name (resolved under "
                                  "<project>/models/**) or a .sql path")
    cp.add_argument(
        "--project", default=None,
        help="dbt project root (default: $REFERENCE_DIR checkout)",
    )
    cp.add_argument("--vars", help="JSON dict of dbt vars")
    cp.add_argument(
        "--incremental", action="store_true", dest="compile_incremental",
        help="render is_incremental() Jinja blocks as active",
    )
    g = sub.add_parser("gen-fixtures", help="write deterministic bronze demo data")
    g.add_argument("--bronze", required=True)
    mt = sub.add_parser(
        "maintain",
        help="txlog warehouse maintenance: small-file compaction, version "
             "vacuum, commit history (the OPTIMIZE/VACUUM ops surface)",
    )
    mt.add_argument("--warehouse", required=True)
    mt.add_argument("--models",
                    help="comma-separated subset (default: every txlog "
                         "table found in the warehouse)")
    mt.add_argument("--history", action="store_true",
                    help="print each table's commit history")
    mt.add_argument("--compact", action="store_true",
                    help="rewrite small files into fewer clustered ones "
                         "(bit-identical contents, new version)")
    mt.add_argument("--small-file-mb", type=float, default=32.0)
    mt.add_argument("--vacuum", action="store_true",
                    help="drop data unreferenced by the retained newest "
                         "versions plus aged-out temp manifests")
    mt.add_argument("--retain-last", type=int, default=2)
    mt.add_argument("--restore", type=int, metavar="VERSION",
                    help="roll the table back to VERSION as a NEW commit "
                         "(Delta RESTORE semantics: history intact, "
                         "nothing deleted); requires --models naming the "
                         "target tables explicitly")
    mt.add_argument("--min-age-seconds", type=float, default=3600.0,
                    help="in-flight-writer guard: younger files survive")
    cl = sub.add_parser(
        "clone",
        help="dbt clone: zero-copy shallow clones of txlog tables from "
             "another (e.g. production) warehouse into this one — dev "
             "environments in O(metadata), no data bytes copied",
    )
    cl.add_argument("--from-warehouse", dest="from_warehouse", required=True,
                    help="source warehouse dir (the prod state)")
    cl.add_argument("--warehouse", required=True,
                    help="target warehouse dir")
    cl.add_argument("--models",
                    help="comma-separated subset (default: every txlog "
                         "table in the source warehouse)")
    s = sub.add_parser("show", help="print rows of one model")
    common(s)
    s.add_argument("model")
    s.add_argument("-n", type=int, default=10)
    s.add_argument(
        "--explain", action="store_true",
        help="print the physical plan instead of rows (dbt compile analog)",
    )

    args = p.parse_args(argv)

    if args.cmd == "compile":
        # dbt compile: pure text — no Spark session, no execution
        import glob as _glob
        import os

        from furchild_spark.engine import sql_compiler as SC
        from furchild_spark.engine.dbt_yaml import reference_dir

        if args.model.endswith(".sql") and os.path.exists(args.model):
            path = args.model
        else:
            project = args.project or reference_dir()
            if not project:
                _usage_error("no project: pass --project or set "
                             "REFERENCE_DIR to a dbt checkout")
            hits = _glob.glob(
                os.path.join(project, "models", "**", f"{args.model}.sql"),
                recursive=True,
            )
            if not hits:
                _usage_error(f"model {args.model!r} not found under "
                             f"{project}/models")
            path = hits[0]
        rendered = SC.compile_model_file(
            path,
            variables=json.loads(args.vars) if args.vars else None,
            is_incremental=getattr(args, "compile_incremental", False),
        )
        if rendered.config:
            print(f"-- config: {rendered.config}")
        if rendered.refs:
            print(f"-- refs: {', '.join(rendered.refs)}")
        if rendered.sources:
            print("-- sources: "
                  + ", ".join(f"{s}.{t}" for s, t in rendered.sources))
        print(rendered.sql.strip())
        return 0

    if getattr(args, "seeds", None):
        from furchild_spark.engine.seeds import register_seeds
        from furchild_spark.models import registry as _reg

        register_seeds(_reg, args.seeds)

    if args.cmd == "ls":
        from furchild_spark.models import registry

        selected = None
        if getattr(args, "models", None) or getattr(args, "exclude", None):
            toks = (args.models or "").split(",") if args.models else []
            needs_graph = bool(getattr(args, "exclude", None)) or any(
                t.startswith(("state:", "result:", "@")) or "+" in t
                for t in toks
            )
            if needs_graph:
                # cone walks need the OBSERVED dag — a view-only probe,
                # which needs the bronze schemas (dbt ls parses a project
                # the same way before answering graph selectors)
                if not args.bronze:
                    p.error("ls with graph/state/exclude selectors needs "
                            "--bronze")
                if spark is None:
                    from furchild_spark.engine.session import get_spark

                    spark = get_spark(app_name="furchild_ls")
                selected = set(_names(args, spark) or [])
            else:
                # plain names / tag: / exposure: expand without Spark
                selected = set(_included_names(args, spark=None) or [])
        for name in registry.names():
            if selected is not None and name not in selected:
                continue
            m = registry[name]
            extra = "unique_key=" + str(m.unique_key) if m.unique_key else ""
            if m.version is not None:
                # dbt ls marks versioned nodes; LATEST is what an
                # unpinned ref resolves to
                latest = registry.latest_version(m.base_name)
                extra += (" " if extra else "") + (
                    f"version={m.version}"
                    + (" (latest)" if m.version == latest else "")
                )
            if m.deprecation_date is not None:
                extra += (" " if extra else "") + (
                    f"deprecated={m.deprecation_date.isoformat()}"
                )
            print(f"{name:40s} {m.materialized:12s} {extra}")
        if selected is None:
            for name, exp in registry.exposures().items():
                print(f"{name:40s} {'exposure':12s} "
                      f"type={exp.exposure_type} "
                      f"depends_on={','.join(exp.depends_on)}")
        return 0

    if args.cmd == "gen-fixtures":
        from furchild_spark.sources.fixtures import write_fixture_parquet

        paths = write_fixture_parquet(args.bronze)
        for name, path in sorted(paths.items()):
            print(f"wrote {name} -> {path}")
        return 0

    if args.cmd == "clone":
        import os

        from furchild_spark.engine.txlog import TxTable

        names = (
            args.models.split(",")
            if args.models
            else sorted(
                d for d in os.listdir(args.from_warehouse)
                if os.path.isdir(os.path.join(args.from_warehouse, d, "_txlog"))
            )
        )
        if spark is None:
            from furchild_spark.engine.session import get_spark

            spark = get_spark(app_name="furchild_clone")
        os.makedirs(args.warehouse, exist_ok=True)
        rc = 0
        for name in names:
            src = os.path.join(args.from_warehouse, name)
            if not os.path.isdir(os.path.join(src, "_txlog")):
                print(f"{name}: not a txlog table, skipped")
                rc = 1
                continue
            try:
                c = TxTable(spark, src).clone(os.path.join(args.warehouse, name))
            except ValueError as e:
                print(f"{name}: {e}")
                rc = 1
                continue
            print(f"cloned {name}: {c.count()} rows (zero-copy, "
                  f"v{TxTable(spark, src).current_version()} of source)")
        return rc

    if args.cmd == "maintain":
        import os

        from furchild_spark.engine.txlog import TxTable
        from furchild_spark.models import registry

        if args.restore is not None and not args.models:
            p.error("--restore rolls tables BACK — name them explicitly "
                    "with --models (a blanket warehouse rollback is "
                    "never what you meant)")
        if not (args.compact or args.vacuum or args.history
                or args.restore is not None):
            p.error("maintain wants at least one of "
                    "--history/--compact/--vacuum/--restore")
        names = (
            args.models.split(",")
            if args.models
            else sorted(
                d for d in os.listdir(args.warehouse)
                if os.path.isdir(os.path.join(args.warehouse, d, "_txlog"))
            )
        )
        if spark is None:
            from furchild_spark.engine.session import get_spark

            spark = get_spark(app_name="furchild_maintain")
        rc = 0
        for name in names:
            path = os.path.join(args.warehouse, name)
            if not os.path.isdir(os.path.join(path, "_txlog")):
                print(f"{name}: not a txlog table, skipped")
                continue
            # compacted files keep the model's declared cluster layout so
            # file-scoped merges stay scoped after maintenance
            cluster = (
                tuple(registry[name].partition_by)
                if name in registry else ()
            )
            tx = TxTable(spark, path, cluster_by=cluster)
            if args.restore is not None:
                try:
                    v = tx.restore(args.restore)
                except Exception as e:
                    print(f"{name}: restore failed: {e}")
                    rc = 1
                    continue
                print(f"{name}: restored to v{args.restore} "
                      f"(new commit v{v}, history intact)")
            if args.history:
                for h in tx.history():
                    print(f"{name} v{h['version']} {h['op']} "
                          f"files={h['num_files']}")
            if args.compact:
                v = tx.compact(
                    small_file_bytes=int(args.small_file_mb * 1024 * 1024)
                )
                print(f"{name}: compact -> "
                      f"{'v' + str(v) if v else 'nothing to do'}")
            if args.vacuum:
                removed = tx.vacuum(
                    retain_last=args.retain_last,
                    min_age_seconds=args.min_age_seconds,
                )
                print(f"{name}: vacuum removed {len(removed)} commit dirs")
        return rc

    if not args.bronze and args.cmd != "seed":
        p.error(f"--bronze is required for {args.cmd}")
    if getattr(args, "store_failures", False) and not args.warehouse:
        p.error("--store-failures wants --warehouse (failure tables land "
                "under <warehouse>/_test_failures)")

    if spark is None:
        from furchild_spark.engine.session import get_spark

        spark = get_spark(app_name=f"furchild_{args.cmd}")

    from furchild_spark.engine import checks as C
    from furchild_spark.engine.registry import BuildError

    if args.cmd == "dag":
        if args.columns:
            from furchild_spark.engine.lineage import column_lineage
            from furchild_spark.models import registry

            if "." not in args.columns:
                p.error("--columns wants MODEL.COLUMN (e.g. "
                        "fct_orders.order_sk)")
            model, _, col = args.columns.partition(".")
            if model not in registry:
                p.error(f"unknown model: {model!r}")
            # the composed VIEW-mode plan, so lineage crosses model
            # boundaries all the way to the bronze scans
            df = _probe_runner(args, spark).ref(model)
            # MODEL.* walks every output column — the full column map a
            # docs UI renders (same analyzed plan, one probe)
            cols = (
                [f.name for f in df.schema.fields] if col == "*" else [col]
            )
            for c in cols:
                try:
                    srcs = column_lineage(df, c)
                except KeyError as e:
                    p.error(str(e))
                for s in sorted(srcs, key=str):
                    print(f"{model}.{c} <- {s}")
                if not srcs:
                    print(f"{model}.{c} <- (no source columns: literal "
                          "or generated)")
            return 0
        # Lineage is OBSERVED, not declared (the dbt-manifest equivalent):
        # a view-only probe resolves every model through ref(), building
        # the lazy plans — no Spark action, and no warehouse writes even
        # if --warehouse was passed — while recording each edge.
        lineage, order, _ = _observed_lineage(args, spark)
        from furchild_spark.models import registry as _reg

        exposures = _reg.exposures()
        if args.as_json:
            out = dict(lineage)
            for name, exp in exposures.items():
                out[name] = {
                    "refs": list(exp.depends_on), "sources": [],
                    "exposure": exp.exposure_type,
                }
            print(json.dumps(out, indent=2, sort_keys=True))
        else:
            for name in order:
                lin = lineage.get(name, {"refs": [], "sources": []})
                deps = [f"ref:{r}" for r in lin["refs"]] + [
                    f"src:{s}" for s in lin["sources"]
                ]
                print(f"{name} <- {', '.join(deps) if deps else '(none)'}")
            for name, exp in exposures.items():
                deps = ", ".join(f"ref:{r}" for r in exp.depends_on)
                print(f"{name} [exposure:{exp.exposure_type}] <- {deps}")
        return 0

    if args.cmd == "docs":
        # dbt docs generate: one artifact holding what a reader needs to
        # navigate the warehouse without executing it — configs, observed
        # edges, resolved column types (from the analyzed schema of the
        # view-mode composed plan), descriptions (model docstrings), the
        # tests attached to each model, and — when --warehouse points at
        # a built warehouse — a dbt-catalog.json-style stats section
        # (row counts, bytes, files, materialized column types) read
        # ENTIRELY from metadata: txlog manifests / parquet footers,
        # O(files), zero Spark jobs.
        from furchild_spark.engine import docs as D
        from furchild_spark.models import registry

        lineage, order, probe = _observed_lineage(args, spark)
        checks_by_model: dict[str, list] = {}
        for c in C.CHECKS:
            checks_by_model.setdefault(c.model, []).append(
                {"name": c.name, "severity": c.severity}
            )
        nodes = {}
        for name in order:
            m = registry[name]
            df = probe.ref(name)
            nodes[name] = {
                "materialized": m.materialized,
                "unique_key": m.unique_key,
                "partition_by": list(m.partition_by),
                "incremental_predicates": [
                    # JSON-stable: datetime/date window bounds -> ISO
                    [c, o, v if isinstance(v, (int, float, str, bool))
                     else str(v)]
                    for c, o, v in m.incremental_predicates
                ],
                "tags": list(m.tags),
                # dbt 1.5 governance surface (manifest parity: dbt emits
                # group + access on every model node)
                "group": m.group,
                "access": m.access,
                # dbt 1.5 versions / 1.6 deprecation (manifest parity:
                # version, latest_version, deprecation_date per node)
                "version": m.version,
                "latest_version": (
                    registry.latest_version(m.base_name)
                    if m.base_name else None
                ),
                "deprecation_date": (
                    m.deprecation_date.isoformat()
                    if m.deprecation_date else None
                ),
                "description": D.description_of(m),
                "contract": m.contract,
                "depends_on": lineage.get(
                    name, {"refs": [], "sources": []}
                ),
                "columns": {
                    f.name: f.dataType.simpleString()
                    for f in df.schema.fields
                },
                "checks": checks_by_model.get(name, []),
            }
        doc = {
            "nodes": nodes,
            "exposures": {
                name: {
                    "type": exp.exposure_type,
                    "depends_on": list(exp.depends_on),
                    "owner": exp.owner,
                    "url": exp.url,
                    "description": exp.description,
                }
                for name, exp in registry.exposures().items()
            },
            "sources": sorted(
                {s for lin in lineage.values() for s in lin["sources"]}
            ),
            "freshness": [
                {
                    "source": f.source,
                    "loaded_at": f.loaded_at_col,
                    "warn_after_hours": f.warn_after_hours,
                    "error_after_hours": f.error_after_hours,
                }
                for f in C.FRESHNESS
            ],
        }
        if args.warehouse:
            doc["catalog"] = D.warehouse_catalog(
                args.warehouse, order, registry,
                table_format=args.table_format,
            )
        if getattr(args, "html", None):
            with open(args.html, "w") as fh:
                fh.write(D.render_html(doc))
            print(f"wrote {args.html}")
        text = json.dumps(doc, indent=1, sort_keys=True)
        if args.output:
            with open(args.output, "w") as fh:
                fh.write(text)
            print(f"wrote {args.output}")
        elif not getattr(args, "html", None):
            print(text)
        return 0

    if args.cmd == "retry":
        # dbt retry: re-run exactly what the previous invocation left
        # red — errored models plus everything skipped behind them —
        # resolved from its run_results.json (defaults to the one the
        # prior run wrote into the warehouse). Pure sugar over the
        # result: selectors, so the selection/defer/threads machinery
        # is identical to run.
        import os as _os

        if args.models:
            p.error("retry derives its selection from --state-results; "
                    "use run --models result:... for custom selections")
        if not args.state_results:
            default_rr = (
                _os.path.join(args.warehouse, "run_results.json")
                if args.warehouse else None
            )
            if not (default_rr and _os.path.exists(default_rr)):
                p.error("retry wants --state-results PATH (or a "
                        "<warehouse>/run_results.json from a prior run)")
            args.state_results = default_rr
        args.models = "result:error,result:skipped"
        args.cmd = "run"

    runner = _make_runner(args, spark)

    if args.cmd == "seed":
        # dbt seed: materialize ONLY the seed models (CSV-backed tables);
        # they participate in ref()/selectors like any model afterwards
        if not args.seeds:
            p.error("seed wants --seeds DIR")
        if not args.warehouse:
            p.error("seed wants --warehouse (seeds exist to be "
                    "materialized)")
        from furchild_spark.models import registry as _reg

        names = [n for n in _reg.names() if "seed" in _reg[n].tags]
        chosen = _names(args, spark)
        if chosen is not None:
            names = [n for n in names if n in set(chosen)]
        if not names:
            print("nothing to do (no seed models selected)")
            return 0
        built = runner.run(names, threads=args.threads)
        for name, df in built.items():
            print(f"seeded {name}: {df.count()} rows")
        return 0

    if args.cmd == "snapshot":
        # dbt snapshot: materialize ONLY the snapshot-materialized models
        # (SCD2 version-merge on every invocation — first run initializes,
        # later runs open/close versions). Snapshots read sources, so this
        # never drags staging tables into the warehouse.
        if not args.warehouse:
            p.error("snapshot wants --warehouse (SCD2 history lives on "
                    "disk and version-merges against the prior state)")
        from furchild_spark.models import registry as _reg

        names = [
            n for n in _reg.names()
            if _reg[n].materialized == "snapshot"
        ]
        chosen = _names(args, spark)
        if chosen is not None:
            names = [n for n in names if n in set(chosen)]
        if not names:
            print("nothing to do (no snapshot models selected)")
            return 0
        built = runner.run(names, threads=args.threads)
        for name, df in built.items():
            print(f"snapshotted {name}: {df.count()} rows")
        errors = {
            n: r for n, r in runner.run_results.items()
            if r["status"] == "error"
        }
        for n, r in sorted(errors.items()):
            print(f"FAILED {n}: {r['error']}")
        return 1 if errors else 0

    if args.cmd == "run":
        names = _names(args, spark)
        if names is not None and not names:
            print("nothing to do (selection matched no models)")
            return 0
        built = runner.run(
            names,
            threads=args.threads,
            on_error="raise" if args.fail_fast else "continue",
        )
        for name, df in built.items():
            print(f"built {name}: {df.count()} rows")
        errors = {
            n: r for n, r in runner.run_results.items()
            if r["status"] == "error"
        }
        for n, r in sorted(errors.items()):
            print(f"FAILED {n}: {r['error']}")
        for n, r in sorted(runner.run_results.items()):
            if r["status"] == "skipped":
                print(f"skipped {n} (upstream {r.get('because')} failed)")
        # a failed run must not advance the slim-CI baseline: state
        # fingerprints describe a warehouse that was fully built
        if not errors:
            path = _write_state_manifest(args, spark)
            if path:
                print(f"wrote manifest: {path}")
        rr = _write_run_results(args, runner)
        if rr:
            print(f"wrote run results: {rr}")
        return 1 if errors else 0

    if args.cmd == "freshness":
        results = C.run_freshness(runner.source, runner.now, C.FRESHNESS)
        worst = 0
        for r in results:
            print(f"{r.source:28s} lag={r.lag_hours:8.1f}h {r.status}")
            worst = max(worst, 1 if r.status == "error" else 0)
        if getattr(args, "output", None):
            # dbt's sources.json artifact: machine-readable per-source
            # status, the file CI gates and freshness dashboards consume
            spec_by_src = {f.source: f for f in C.FRESHNESS}
            art = {
                "results": [
                    {
                        "source": r.source,
                        "status": r.status,
                        "lag_hours": round(r.lag_hours, 3),
                        "loaded_at_col": spec_by_src[r.source].loaded_at_col,
                        "warn_after_hours":
                            spec_by_src[r.source].warn_after_hours,
                        "error_after_hours":
                            spec_by_src[r.source].error_after_hours,
                    }
                    for r in results
                ],
            }
            with open(args.output, "w") as fh:
                json.dump(art, fh, indent=1, sort_keys=True)
            print(f"wrote {args.output}")
        return worst

    if args.cmd == "test":
        # dbt `dbt test --models`: only checks ATTACHED to the selected
        # models run (relationship checks belong to their child model,
        # matching dbt's ownership). Previously --models was accepted but
        # silently ignored here (r5 ADVICE).
        selected = _names(args, spark)
        suite = (
            C.CHECKS
            if selected is None
            else [c for c in C.CHECKS if c.model in set(selected)]
        )
        sf_dir = (
            f"{args.warehouse}/_test_failures"
            if getattr(args, "store_failures", False) else None
        )
        results = C.run_checks(
            runner.ref, suite, threads=args.threads,
            store_failures_dir=sf_dir, source=runner.source,
        )
        # dbt tests SOURCES too (schema.yml sources: column tests).
        # Source tests belong to SOURCE nodes, not models, so a --models
        # selection never includes them (dbt node-selection semantics);
        # the unselected full run covers them.
        if selected is None:
            results = list(results) + C.run_source_checks(runner.source)
        known_red = {
            n for n in (getattr(args, "known_red", None) or "").split(",")
            if n
        }
        failed = 0
        for r in results:
            # dbt's status ladder (error_if -> warn_if -> pass): a
            # thresholded check can WARN without failing the suite even
            # at severity=error
            status = "PASS" if r.status == "pass" else r.status.upper()
            if r.name in known_red:
                # an allowlisted red is reported but never gates the exit
                # code; an allowlisted check that PASSES is itself news
                status += " (known-red)" if r.status != "pass" else \
                    " (known-red entry now passes — remove it)"
            stored = (
                f" -> {r.failures_path}"
                if r.failures_path and r.failures else ""
            )
            print(f"{r.name:56s} {status}"
                  + ("" if r.status == "pass" else f" ({r.failures} rows)")
                  + stored)
            if r.name in known_red:
                continue
            if r.status == "error" or (
                getattr(args, "warn_error", False) and r.status == "warn"
            ):
                failed += 1
        # dbt 1.8: `dbt test` runs UNIT tests (mocked-input logic tests)
        # alongside the data checks; unit tests belong to their model, so
        # --models selection applies the same way
        from furchild_spark.engine.unit import run_unit_tests
        from furchild_spark.models import registry as _registry
        from furchild_spark.models.unit_tests import UNIT_TESTS

        utests = (
            UNIT_TESTS
            if selected is None
            else [t for t in UNIT_TESTS if t.model in set(selected)]
        )
        uresults = run_unit_tests(
            spark, _registry, utests,
            variables=json.loads(args.vars) if args.vars else None,
        )
        for ur in uresults:
            status = "PASS" if ur.passed else "ERROR"
            detail = ""
            if not ur.passed:
                detail = (f" ({ur.error})" if ur.error else
                          f" ({len(ur.unexpected)} unexpected / "
                          f"{len(ur.missing)} missing rows)")
                failed += 1
            print(f"{ur.name:56s} {status}{detail}")
        print(f"{len(results)} checks + {len(uresults)} unit tests, "
              f"{failed} error-severity failures")
        return 1 if failed else 0

    if args.cmd == "build":
        names = _names(args, spark)
        if names is not None and not names:
            print("nothing to do (state selection found no modified models)")
            return 0
        try:
            result = runner.build(
                names, checks=C.CHECKS, freshness=C.FRESHNESS,
                threads=args.threads,
                store_failures_dir=(
                    f"{args.warehouse}/_test_failures"
                    if getattr(args, "store_failures", False) else None
                ),
            )
        except BuildError as e:
            print(f"BUILD FAILED: {e}")
            return 1
        print(f"built {len(result.models)} models, "
              f"{len(result.checks)} checks "
              f"({len(result.errors)} errors), "
              f"{len(result.freshness)} freshness probes")
        path = _write_state_manifest(args, spark)
        if path:
            print(f"wrote manifest: {path}")
        if getattr(args, "warn_error", False) and result.warnings:
            print("WARN-AS-ERROR: "
                  + ", ".join(w.name if hasattr(w, "name") else w.source
                              for w in result.warnings))
            return 1
        return 0

    if args.cmd == "show":
        if args.explain:
            # plan inspection must not materialize the model's upstream
            # DAG into --warehouse (and the composed plan, not a scan of
            # freshly-written parquet, is what the user asked to see)
            _probe_runner(args, spark).ref(args.model).explain("formatted")
        else:
            runner.ref(args.model).show(args.n, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
