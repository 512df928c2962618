"""``serve``: one client in a closed loop over the LEXam endpoints.

The client repeats a fixed cycle of user actions (see :data:`ACTIONS`),
each sending the requests the reference frontend sends for it, so every
seed sends the same share of each endpoint; the seed draws each
action's parameters Zipf-style from a per-action pool, so popular
parameter sets repeat (the measured share is reported as
``serve.repeat_share``).  This path is driver-bound: plan construction
and per-job overhead are a large part of every request.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from common import SERVE_ENDPOINTS, Result, cost_metrics, layer_summary, median, quantile, timed_loop

#: The fixed cycle of user actions and the requests each one sends.
#: Documented for the reference client (BASELINE.md, SURVEY.md section
#: 6): a filter change refreshes the facets (150 ms debounce) next to
#: reloading the questions page, and a search reloads the page after a
#: 300 ms debounce.  Assumed, for want of a source: that a search also
#: asks for its course suggestions and no facet refresh (the facet
#: endpoint takes no search term); that a sort change reloads only the
#: page; that opening an experiment asks for its stats and its judge
#: comparison; and how often each action comes (each once a cycle, the
#: filter change twice).  So the facets go with the filter changes, two
#: of the four page loads.
ACTIONS = (
    ("filter", ("page", "facets")),
    ("search", ("page+search", "suggest")),
    ("sort", ("page+vsort",)),
    ("refine", ("page+search+vsort", "facets")),
    ("open", ("question",)),
    ("dashboard", ("dashboard",)),
    ("experiment", ("stats", "compare")),
)
CYCLE = tuple(slot for _, slots in ACTIONS for slot in slots)
POOL = 40
ZIPF_S = 1.2
TABLES = ("questions", "variants", "answers", "judgments")


def generate(seed: int, inputs) -> dict:
    return gen.write_lexam(seed, str(inputs / "lexam"))


# ----------------------------------------------------------- parameters


def _filter_config(rng: np.random.Generator) -> dict:
    fc: dict = {}

    def pick(values, k_max):
        k = int(rng.integers(1, k_max + 1))
        return sorted(str(v) if not isinstance(v, (int, np.integer)) else int(v)
                      for v in rng.choice(values, size=k, replace=False))

    if rng.random() < 0.5:
        fc["area"] = pick(gen.AREAS, 2)
    if rng.random() < 0.3:
        fc["language"] = pick(("de", "en"), 1)
    if rng.random() < 0.3:
        fc["course"] = pick(gen.COURSES[:12], 3)
    if rng.random() < 0.3:
        fc["jurisdiction"] = pick(gen.JURISDICTIONS, 2)
    if rng.random() < 0.2:
        fc["year"] = [int(y) for y in sorted(rng.choice(np.arange(2000, 2024), size=5, replace=False))]
    for flag, p in (("international", 0.3), ("negative_question", 0.2), ("none_as_an_option", 0.2)):
        if rng.random() < p:
            fc[flag] = bool(rng.random() < 0.5)
    if rng.random() < 0.3:
        fc["config"] = pick(gen.CONFIGS, 2)
    if rng.random() < 0.2:
        fc["split"] = pick(("dev", "test"), 1)
    return fc


def _page(rng: np.random.Generator, slot: str) -> dict:
    from lexam_data_pipeline_spark.serving.questions import (
        QUESTION_SORT_COLUMNS,
        VARIANT_SORT_COLUMNS,
    )

    sorts = VARIANT_SORT_COLUMNS if "vsort" in slot else QUESTION_SORT_COLUMNS
    return {
        "fc": _filter_config(rng),
        "search": str(rng.choice(gen.SEARCH_TERMS)) if "search" in slot else None,
        "sort_by": str(rng.choice(sorts)),
        "sort_dir": str(rng.choice(["asc", "desc"])),
        "offset": int(rng.choice([0, 0, 20, 50, 100])),
        "limit": int(rng.choice([20, 50])),
    }


def make_pools(seed: int) -> dict[str, list[dict[str, dict]]]:
    """Per action, :data:`POOL` parameter sets: each maps the action's
    request slots to their parameters.  Requests of one action share
    them, as the client sends them: the facets of a filter change use
    the page's filters, the suggestions of a search its term."""
    rng = np.random.default_rng([seed, 7])
    q_rank = rng.permutation(gen.LEXAM["questions"])
    pools: dict[str, list[dict[str, dict]]] = {a: [] for a, _ in ACTIONS}
    for i in range(POOL):
        for action, slots in ACTIONS:
            if slots[0].startswith("page"):
                page = _page(rng, slots[0])
                entry = {slots[0]: page}
                if "facets" in slots:
                    entry["facets"] = {"fc": page["fc"]}
                if "suggest" in slots:
                    entry["suggest"] = {"search": page["search"]}
            elif action == "open":
                entry = {"question": {"id": f"q{int(q_rank[i]):06d}"}}
            elif action == "dashboard":
                configs = sorted(str(c) for c in rng.choice(
                    gen.CONFIGS, size=int(rng.integers(1, 4)), replace=False))
                entry = {"dashboard": {
                    "configs": configs if rng.random() < 0.7 else None,
                    "languages": [str(rng.choice(["de", "en"]))] if rng.random() < 0.3 else None,
                }}
            else:
                experiment_id = int(rng.integers(1, gen.LEXAM["experiments"] + 1))
                entry = {
                    "stats": {
                        "experiment_id": experiment_id,
                        "model_name": "model-a" if rng.random() < 0.3 else None,
                        "judge_model": str(rng.choice(gen.JUDGES)) if rng.random() < 0.3 else None,
                    },
                    "compare": {"experiment_id": experiment_id},
                }
            pools[action].append(entry)
    return pools


def request_stream(seed: int):
    """Infinite (slot, (action, pool index), params) sequence: the fixed
    cycle of actions, each action's pool entry drawn Zipf-style."""
    pools = make_pools(seed)
    rng = np.random.default_rng([seed, 11])
    p = 1.0 / np.arange(1, POOL + 1) ** ZIPF_S
    p /= p.sum()
    while True:
        for action, slots in ACTIONS:
            idx = int(rng.choice(POOL, p=p))
            for slot in slots:
                yield slot, (action, idx), pools[action][idx][slot]


def endpoint(slot: str) -> str:
    return slot.split("+")[0]


# ----------------------------------------------------------- endpoints


def serve_one(ctx, t: dict, kind: str, params: dict):
    """One request: build the endpoint's frames (construct), then
    collect them (action).  Returns the response in plain Python."""
    from pyspark.sql import functions as F

    from lexam_data_pipeline_spark import serving
    from lexam_data_pipeline_spark.serving.dashboard import flatten_dashboard
    from lexam_data_pipeline_spark.serving.stats import (
        breakdown_by_fields,
        flatten_compare_judges,
        flatten_experiment_stats,
    )

    tr = ctx.tracer
    q, v, a, j = t["questions"], t["variants"], t["answers"], t["judgments"]
    with tr.span(kind, "serving", jobs=False):
        with tr.span("construct", "serving"):
            if kind == "page":
                page = serving.questions_page(
                    q, v, fc=params["fc"], search=params["search"], sort_by=params["sort_by"],
                    sort_dir=params["sort_dir"], offset=params["offset"], limit=params["limit"],
                )
                df = page.rows.select("id", F.transform("variants", lambda x: x["id"]).alias("vids"))
            elif kind == "facets":
                df = serving.facet_frame(q, v, params["fc"])
            elif kind == "question":
                df = serving.get_question(q, v, params["id"]).select(
                    "id", F.transform("variants", lambda x: x["id"]).alias("vids")
                )
            elif kind == "suggest":
                df = serving.top_courses_for_search(q, v, params["search"], 10)
            elif kind == "dashboard":
                df = flatten_dashboard(
                    serving.dashboard(q, v, configs=params["configs"], languages=params["languages"])
                )
            elif kind == "stats":
                s = serving.experiment_stats(
                    a, j, experiment_id=params["experiment_id"], model_name=params["model_name"],
                    judge_model=params["judge_model"], n_answers=2,
                )
                bd = breakdown_by_fields(
                    a, j, v, q, experiment_id=params["experiment_id"], fields=("area", "course"),
                    model_name=params["model_name"], judge_model=params["judge_model"],
                )
                df = flatten_experiment_stats(s, bd)
            else:
                judges = serving.compare_judges(a, j, experiment_id=params["experiment_id"])
                by_q = serving.stats_by_question(a, j, v, q, experiment_id=params["experiment_id"])
                df = flatten_compare_judges(judges, by_q)
        with tr.span("action", "serving"):
            rows = df.collect()
    if kind == "page":
        return {"total": page.total, "ids": [r["id"] for r in rows], "vids": [list(r["vids"]) for r in rows]}
    if kind == "facets":
        row = rows[0]
        return {f: sorted(x for x in (row[f"{f}__options"] or []) if x is not None)
                for f in serving.facets.FACET_FIELDS}
    if kind == "question":
        return {"ids": [r["id"] for r in rows], "vids": [list(r["vids"]) for r in rows]}
    if kind == "suggest":
        return [(r["course"], int(r["n_matches"])) for r in rows]
    return {"rows": len(rows)}


# ----------------------------------------------------------- checks


def _sql_list(vals) -> str:
    return ", ".join(str(int(x)) if isinstance(x, (int, np.integer)) else "'" + str(x).replace("'", "''") + "'" for x in vals)


def _question_where(fc: dict) -> list[str]:
    from lexam_data_pipeline_spark.operators.filters import BOOL_FIELDS, QUESTION_LIST_FIELDS

    conds = [f"{f} IN ({_sql_list(fc[f])})" for f in QUESTION_LIST_FIELDS if fc.get(f)]
    conds += [f"{f} = {str(bool(fc[f])).upper()}" for f in BOOL_FIELDS if fc.get(f) is not None]
    return conds


def _filtered_sql(fc: dict, search: str | None) -> str:
    from lexam_data_pipeline_spark.operators.filters import VARIANT_LIST_FIELDS

    conds = _question_where(fc)
    vconds = [f"{f} IN ({_sql_list(fc[f])})" for f in VARIANT_LIST_FIELDS if fc.get(f)]
    if vconds:
        conds.append(f"id IN (SELECT question_id FROM variants WHERE {' AND '.join(vconds)})")
    if search:
        term = search.lower().replace("'", "''")
        conds.append(
            f"(strpos(lower(question), '{term}') > 0 OR id IN "
            f"(SELECT question_id FROM variants WHERE strpos(lower(answer), '{term}') > 0))"
        )
    return "SELECT * FROM questions" + (" WHERE " + " AND ".join(conds) if conds else "")


def expected(con, kind: str, p: dict):
    """The same response computed by DuckDB over the same parquet."""
    from lexam_data_pipeline_spark.operators.filters import BOOL_FIELDS
    from lexam_data_pipeline_spark.serving.facets import FACET_FIELDS
    from lexam_data_pipeline_spark.serving.questions import MAX_PAGE_LIMIT, VARIANT_SORT_COLUMNS

    if kind == "page":
        base = _filtered_sql(p["fc"], p["search"])
        total = con.execute(f"SELECT count(*) FROM ({base})").fetchone()[0]
        col = p["sort_by"]
        order = "DESC NULLS LAST" if p["sort_dir"] == "desc" else "ASC NULLS LAST"
        if col in VARIANT_SORT_COLUMNS:
            src = (f"SELECT b.id, k.s AS sk FROM ({base}) b LEFT JOIN "
                   f"(SELECT question_id, min({col}) AS s FROM variants GROUP BY 1) k ON k.question_id = b.id")
        else:
            src = f"SELECT id, {col} AS sk FROM ({base})"
        limit = max(1, min(p["limit"], MAX_PAGE_LIMIT))
        ids = [r[0] for r in con.execute(
            f"SELECT id FROM ({src}) ORDER BY sk {order}, id ASC LIMIT {limit} OFFSET {p['offset']}"
        ).fetchall()]
        vids = [[r[0] for r in con.execute(
            f"SELECT id FROM variants WHERE question_id = '{i}' ORDER BY id").fetchall()] for i in ids]
        return {"total": total, "ids": ids, "vids": vids}
    if kind == "facets":
        fc = p["fc"]
        bools = [f"{f} = {str(bool(fc[f])).upper()}" for f in BOOL_FIELDS if fc.get(f) is not None]
        out = {}
        for f in FACET_FIELDS:
            conds = bools + [f"{o} IN ({_sql_list(fc[o])})" for o in FACET_FIELDS if o != f and fc.get(o)]
            where = " WHERE " + " AND ".join(conds) if conds else ""
            out[f] = sorted(r[0] for r in con.execute(
                f"SELECT DISTINCT {f} FROM (SELECT v.config, v.split, q.* FROM variants v "
                f"JOIN questions q ON q.id = v.question_id){where}").fetchall() if r[0] is not None)
        return out
    if kind == "question":
        ids = [r[0] for r in con.execute(f"SELECT id FROM questions WHERE id = '{p['id']}'").fetchall()]
        vids = [[r[0] for r in con.execute(
            f"SELECT id FROM variants WHERE question_id = '{i}' ORDER BY id").fetchall()] for i in ids]
        return {"ids": ids, "vids": vids}
    if kind == "suggest":
        return [tuple(r) for r in con.execute(
            f"SELECT course, count(*) AS n FROM ({_filtered_sql({}, p['search'])}) "
            "GROUP BY course ORDER BY n DESC, course ASC LIMIT 10").fetchall()]
    return None


# ----------------------------------------------------------- workload


def load(ctx, lexam_dir: str) -> dict:
    from lexam_data_pipeline_spark.catalog import load_table

    out = {}
    for name in TABLES:
        t0 = time.perf_counter()
        out[name] = load_table(ctx.spark, lexam_dir, name)
        ctx.load_ms.append((time.perf_counter() - t0) * 1000.0)
    return out


def run(ctx, generated: dict) -> Result:
    import duckdb

    lexam_dir = str(ctx.work / "inputs" / "lexam")
    tables, setup_s = ctx.setup(lambda: load(ctx, lexam_dir))
    pools = make_pools(ctx.seed)
    # one cycle before timing, concurrently to shorten the run: a cold
    # request costs 2-3x a warm one, and a run that fits fewer cycles in
    # its window must not measure colder requests than one that fits more
    t0 = time.perf_counter()
    warm = [(s, pools[a][0][s]) for a, slots in ACTIONS for s in slots]
    with ThreadPoolExecutor(max_workers=len(warm)) as pool:
        futures = [pool.submit(serve_one, ctx, tables, endpoint(s), params) for s, params in warm]
        for f in futures:
            f.result()
    warmup_s = time.perf_counter() - t0

    # a repeat is a request the server has answered before, warm-up included
    seen = {(s, (a, 0)) for a, slots in ACTIONS for s in slots}
    repeats = 0

    def work():
        nonlocal repeats
        for slot, key, params in request_stream(ctx.seed):
            repeats += (slot, key) in seen
            seen.add((slot, key))

            def step(op, params=params):
                op.payload["params"] = params
                op.payload["response"] = serve_one(ctx, tables, endpoint(op.kind), params)

            yield slot, step

    ops = timed_loop(ctx, ctx.seconds, work(), cycle=len(CYCLE))

    # checks, outside the timed window
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(lexam_dir, f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    checked = mismatched = 0
    for op in ops:
        if not op.ok:
            continue
        want = expected(con, endpoint(op.kind), op.payload["params"])
        if want is None:
            continue
        checked += 1
        if json.loads(json.dumps(op.payload["response"])) != json.loads(json.dumps(want)):
            op.ok = False
            mismatched += 1
            op.payload["error"] = "response differs from DuckDB"
    con.close()

    res = Result(attempted=len(ops), failed=sum(not o.ok for o in ops))
    res.checks = {"responses_match_duckdb": mismatched == 0, "checked_some": checked > 0}
    lat = [o.ms for o in ops]
    res.e2e = {"setup_s": setup_s, **cost_metrics(ops)}
    res.aliases = {
        "p50_ms": median(lat), "p90_ms": quantile(lat, 0.9), "requests": len(lat),
        "requests_per_s": len(lat) / (sum(lat) / 1000.0), "cpu_ms_per_request": res.e2e["cpu_ms_per_op"],
        "repeat_share": repeats / len(ops),
        **{f"cpu_ms.{e}": statistics.mean(o.cpu_ms for o in ops if endpoint(o.kind) == e) for e in SERVE_ENDPOINTS},
    }
    res.layers = layer_summary(ctx, ops)
    res.layers["catalog.load_ms"] = median(ctx.load_ms)
    for e in SERVE_ENDPOINTS:
        res.layers[f"serving.cpu_ms.{e}"] = statistics.mean(o.cpu_ms for o in ops if endpoint(o.kind) == e)
    res.notes = {
        "requests": len(ops),
        "checked": checked,
        "warmup_s": warmup_s,
        "kinds": {k: sum(o.kind == k for o in ops) for k in sorted(set(CYCLE))},
        "kind_p50_ms": {k: median(o.ms for o in ops if o.kind == k) for k in sorted(set(CYCLE))},
        "errors": [o.payload["error"] for o in ops if not o.ok][:5],
        "inputs": generated,
    }
    return res
