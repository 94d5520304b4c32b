"""Registry-wide ORDER-BY totality linter (round 16, VERDICT item 2).

Three separate rounds (r12 order sweep, r12 LIMIT rule, r15 null-heavy
probe) found the same bug class — window/LIMIT sort keys that are not
total up to fully-duplicate rows — by sweeping dirty fixtures, then
patched sites one at a time. This test mechanizes the rule at build
time: it AST-walks every ``.orderBy(...)`` call in the engine package,
classifies each site, and requires every order-DEPENDENT site to carry
a reviewed allowlist entry stating WHY its key tuple is total (or why
ties provably cannot change the output). A new window / top-k site, or
a key-tuple change at an existing site (e.g. a tiebreak dropped),
fails the lint until a human re-reviews it.

Site classes:

- ``window``  — the receiver chain roots at ``W``/``Window``: frames,
  lag/lead, row_number — positional, always order-dependent.
- ``limit``   — DataFrame ``orderBy`` whose enclosing call chain feeds
  ``limit/head/take/first/offset``: the cut boundary makes the emitted
  SET order-dependent under ties.
- ``plain``   — DataFrame ``orderBy`` with no positional consumer in
  its chain: presentation-only (the driver's compare and every sweep
  comparator are row-order-insensitive), auto-pass. A later positional
  use of such a frame would have its own lint-visible site.
- keys containing ``monotonically_increasing_id`` auto-pass (unique by
  construction).

Accepted reason vocabulary (free text, but lead with one of):

- ``unique:``     the key tuple is unique in the frame at that point
                  (grouping key of a prior aggregation, distinct(), a
                  generated index).
- ``full-row:``   order ∪ partition keys cover every column the window
                  or output consumes, so ties only occur between
                  fully-duplicate rows (the r12 totality recipe).
- ``output-dup:`` tied rows are identical in every output column, so
                  any positional pick yields the same multiset.
- ``tie-safe:``   the consumer is provably insensitive to intra-tie
                  order (RANGE frames unite peers; prefix aggregates
                  where tied rows contribute equal/zero deltas; strict
                  comparisons that equal-valued ties cannot flip).

Oracle-side twins: the DuckDB oracle texts mirror these key tuples and
are additionally guarded by the 30-rep oracle-stability sweep and the
dirty/null-heavy parity gates (tests/oracle.py:31-44 documents the
detect-then-fix contract for nullable oracle sort keys); this lint
covers the ENGINE side, where the 100 TB execution happens.

First catches (round 16, fixed in the same round — pinned by
tests/test_totality_lint_fixes.py): the as-of joins' missing
event_type key, range_join_binned's max_by-on-tied-last-key bucket
totals, and the vector top-k family's missing label tiebreaks.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "ndl_core_data_pipeline_spark")

_POSITIONAL_CONSUMERS = {"limit", "head", "take", "first", "offset"}

# (file relative to the package, enclosing function, site class,
#  normalized key tuple) -> reviewed reason. Every window/limit site
# must appear here; every entry must still match a live site.
ALLOWLIST: dict[tuple[str, str, str, str], str] = {
    ("operators/aggregates.py", "trend_weekly_growth", "window", "week"):
        "unique: week is the grouping key of the immediately prior agg",
    ("operators/checks.py", "enforce_unique_key", "limit", "n_copies,*cols"):
        "full-row: the frame is groupBy(*cols).count, so (n_copies,*cols) "
        "covers every output column; ties are fully duplicate rows",
    ("operators/bpe.py", "bpe_first_merge_pairs", "window", "*order"):
        "unique: (count,left,right) — (left,right) is the pair-table "
        "grouping key; ranks a 10-row post-limit frame",
    ("operators/bpe.py", "bpe_first_merge_pairs", "limit", "*order"):
        "unique: same (count,left,right) key over the grouped pair table",
    ("operators/bpe.py", "train_bpe_merges", "limit", "count,left,right"):
        "unique: (left,right) is the pair-table grouping key",
    ("operators/dedup.py", "substring_dup_spans", "window", "start"):
        "full-row: hits rows are exactly (doc_id,start,end) with "
        "end=start+const — (partition doc_id, start) ties are fully "
        "duplicate and the interval merge treats them identically",
    ("operators/eventwindows.py", "session_paths", "window", "ts,event_id"):
        "tie-safe: lag(micros) feeds a gap>threshold test where tied rows "
        "share ts (equal/NULL micros ⇒ identical is_start for every "
        "permutation), and the path string re-sorts its own collect via "
        "array_sort on (ts,event_id,c)",
    ("operators/eventwindows.py", "events_debounce", "window",
     "ts,event_id,value"):
        "full-row: value closes the key over every consumed column "
        "(r15 null-heavy fix)",
    ("operators/eventwindows.py", "events_markov_transitions", "window",
     "ts,event_id,event_type"):
        "full-row: event_type (the only consumed payload) is in the key "
        "(r12 order-invariance fix)",
    ("operators/eventwindows.py", "session_paths", "limit", "cnt,trigram"):
        "unique: trigram is the grouping key of the final rollup",
    ("operators/eventwindows.py", "_two_level_rank", "window",
     "*group_col[0]('_g')"):
        "unique: the histogram frame has one row per _g group",
    ("operators/eventwindows.py", "_two_level_rank", "window", "*order_cols"):
        "unique: callers rank per-user summary rows and every order_cols "
        "tuple ends in the unique user-id block (docstring: bit-identical "
        "to ntile with user_id tiebreaks)",
    ("operators/eventwindows.py", "window_cusum_drift", "window",
     "ts,event_id,value"):
        "full-row: value closes the key over the consumed column "
        "(r15 null-heavy fix)",
    ("operators/graphs.py", "graph_pagerank", "limit", "pagerank,part"):
        "unique: part is the per-node grouping key of the rank table",
    ("operators/joins.py", "asof_join_last_view", "window",
     "ts,event_id,event_type"):
        "full-row: event_type closes the key over every column the "
        "carry-forward reads; tied triples contribute identical "
        "(view_ts,view_id) (r16 lint catch #1)",
    ("operators/joins.py", "asof_join_with_tolerance", "window",
     "ts,event_id,event_type"):
        "full-row: same key as asof_join_last_view (r16 lint catch #1)",
    ("operators/joins.py", "range_join_binned", "window",
     "t,kind,row_id,sign"):
        "tie-safe: tied probes (kind=1) contribute (0,0) so their "
        "prefixes are permutation-invariant; tied views only reorder "
        "within-run prefixes no consumer reads — bucket totals are plain "
        "SUMs (r16 lint catch #2) and probes sort after same-t views "
        "(kind tiebreak)",
    ("operators/joins.py", "range_join_binned", "window", "bucket"):
        "unique: offset scan over per-bucket totals (one row per bucket)",
    ("operators/sketches.py", "bottomk_sample_quantiles", "window",
     "h,o_orderkey,o_totalprice"):
        "full-row: o_totalprice (the only consumed payload) closes the "
        "key (r15 null-heavy fix)",
    ("operators/sketches.py", "countmin_estimates", "limit", "user_id"):
        "unique: distinct() precedes the sort",
    ("operators/sorts.py", "topk_per_group", "window",
     "o_totalprice,o_orderkey"):
        "output-dup: partition ∪ keys cover every output column except "
        "rn; tied rows are identical so rn permutes within equal rows",
    ("operators/sorts.py", "elbow_cut", "window", "dist,vec_id"):
        "tie-safe: tied rows share dist ⇒ intra-run diffs are 0 and the "
        "run-first diff is permutation-invariant; a cut at a tie run "
        "drops the whole run either way; output cols = f(keys)",
    ("operators/sorts.py", "elbow_cut", "limit", "dist,vec_id"):
        "output-dup: output (vec_id,dist,rnk) — ties at the 15-cut are "
        "identical in (dist,vec_id), rnk permutes within equal rows",
    ("operators/sorts.py", "elbow_cut", "window", "rnk"):
        "unique: rnk is a row_number",
    ("operators/sorts.py", "survivors", "window", "dayno"):
        "tie-safe: RANGE frame unites equal-dayno peers and min() is "
        "tie-insensitive",
    ("operators/sorts.py", "survivors", "window",
     "o_totalprice,o_orderkey"):
        "tie-safe: prefix-min consumed through a STRICT < against the "
        "row's own price — an equal-price tie in the prefix cannot flip "
        "the dominance verdict",
    ("operators/sorts.py", "topk_by_value", "limit",
     "o_totalprice,o_orderkey,o_custkey"):
        "full-row: key = full output row (inline r12 comment)",
    ("operators/sorts.py", "recency_sort", "limit",
     "ts,event_id,event_type"):
        "full-row: key = full output row (inline r12 comment)",
    ("operators/sorts.py", "sort_limit_offset", "limit",
     "o_orderdate,o_orderkey,o_totalprice"):
        "full-row: key = full output row (inline r12 comment)",
    ("operators/textops.py", "tfidf_topk", "window", "tfidf,term"):
        "unique: term is unique within the doc_id partition (per-doc "
        "term aggregation upstream)",
    ("operators/textops.py", "bm25_topk", "limit", "bm25,doc_id"):
        "unique: one row per doc_id (per-doc tf aggregation; NULL ids "
        "merge into one group)",
    ("operators/textops.py", "cooccur_pmi", "limit", "pmi,term_a,term_b"):
        "unique: (term_a,term_b) is the pair grouping key",
    ("operators/textops.py", "cooccur_pmi", "limit", "df,term"):
        "unique: term is the df-table grouping key",
    ("operators/textops.py", "text_zipf_fit", "window", "n,g"):
        "unique: offset scan over the (n,g) histogram (one row each)",
    ("operators/textops.py", "text_zipf_fit", "window", "term"):
        "unique: term is the freq-table grouping key within its (n,g) "
        "partition",
    ("operators/tpch.py", "q3_shipping_priority", "limit",
     "revenue,o_orderkey"):
        "unique: o_orderkey is in the grouping key and functionally "
        "determines the other output columns; equi-joins drop NULL keys",
    ("operators/tpch.py", "q10_returned_items", "limit",
     "revenue,c_custkey"):
        "unique: c_custkey is in the grouping key; equi-join drops NULLs",
    ("operators/tpch.py", "q2_min_cost_supplier", "limit",
     "s_acctbal,n_name,s_name,p_partkey"):
        "unique: (s_name,p_partkey) pins the supplier×part grouping key; "
        "equi-joins drop NULL keys",
    ("operators/tpch.py", "q21_waiting_suppliers", "limit",
     "numwait,s_name,s_suppkey"):
        "unique: s_suppkey is in the grouping key; equi-join drops NULLs",
    ("operators/training.py", "sample_topk_per_source", "window",
     "h,doc_id"):
        "output-dup: output = (doc_id,source,sample_key=h,rk); ties are "
        "identical in every output column except rk",
    ("operators/training.py", "dedup_block_rewrite", "window",
     "doc_id,idx"):
        "unique: (doc_id,idx) unique per doc via posexplode; NULL-doc "
        "ties share the identical block payload (same block_hash "
        "partition), so rn=1 picks among equal blocks",
    ("operators/training.py", "pack_cumsum_bins", "window",
     "doc_id,n_tokens"):
        "tie-safe: n_tokens (the only consumed payload) is in the key — "
        "tied rows contribute equal prefix deltas",
    ("operators/vector.py", "threshold_labels", "window",
     "cos_sim,vec_id,label"):
        "full-row: label closes the key over the output row "
        "(r16 lint catch #3)",
    ("operators/vector.py", "cosine_topk", "limit", "cos_sim,vec_id,label"):
        "full-row: label closes the key over the output row "
        "(r16 lint catch #3)",
    ("operators/vector.py", "ivf_topk", "limit", "cos_sim,vec_id,label"):
        "full-row: label closes the key over the output row "
        "(r16 lint catch #3)",
    ("operators/vector.py", "ivf_topk", "limit", "qd2,cell_id"):
        "unique: one row per centroid cell",
    ("operators/vector.py", "pq_adc_topk", "limit", "adc_d2,vec_id,label"):
        "full-row: (vec_id,label) is the grouping key = output row "
        "(r16 lint catch #3)",
    ("operators/vector.py", "ivfpq_adc_search", "limit",
     "adc_d2,vec_id,label,cell_id"):
        "full-row: (vec_id,label,cell_id) is the grouping key = output "
        "row (r16 lint catch #3)",
    ("operators/vector.py", "ivfpq_adc_search", "limit", "d2,cell_id"):
        "unique: one row per centroid cell",
    ("operators/vector.py", "matryoshka_prefix_topk", "limit",
     "pre_cos,vec_id,label"):
        "full-row over the output row (r16 lint catch #3); declared "
        "residual: a tie equal in all three with a DIFFERENT embedding "
        "at the candidate cut would still be order-dependent — needs a "
        "round6 score collision on top of duplicate ids, accepted",
    ("operators/vector.py", "matryoshka_prefix_topk", "limit",
     "cos_sim,vec_id,label,pre_cos"):
        "full-row: key = full output row (r16 lint catch #3)",
    ("operators/vector.py", "ann_recall_report", "window",
     "cos_sim,vec_id"):
        "output-dup: the exact arm emits (query_id,vec_id) only — tied "
        "rows are output-identical; recall joins on vec_id never match "
        "NULLs on either engine",
    ("operators/vector.py", "ann_recall_report", "window", "qd2,cell_id"):
        "unique: one row per centroid cell per query",
    ("operators/warehouse.py", "scd2_intervals", "window",
     "ts,event_id,event_type"):
        "full-row: event_type (the consumed state) closes the key "
        "(r15 null-heavy fix)",
    ("operators/warehouse.py", "sort_zorder_cluster", "limit",
     "z_value,p_partkey,p_size,price_bucket"):
        "full-row: key = full output row (inline r12 comment)",
    ("operators/warehouse.py", "feature_one_hot", "window",
     "o_orderpriority"):
        "unique: distinct() precedes the vocabulary rank",
    ("operators/windows.py", "lag_lead_neighbors", "window",
     "doc_id,text"):
        "full-row: text (the only consumed payload) is in the key — "
        "tie runs exchange identical snippets (r15 fix)",
    ("operators/windows.py", "first_in_group", "window",
     "n_chars,doc_id"):
        "output-dup: partition ∪ keys = the full output row",
    ("operators/windows.py", "sessionize_conversations", "window",
     "ts,event_id,value"):
        "full-row: value closes the key over every consumed column. The "
        "first lint pass allowlisted (ts,event_id) as tie-safe — wrong: "
        "NULL-ts rows are singleton sessions, so the session ORDINAL "
        "pairs with a value arrival-dependently; the r16 compound sweep "
        "caught it on a 50%-hot user",
    ("operators/windows.py", "ranking_family", "window",
     "c_acctbal,c_custkey"):
        "output-dup: partition ∪ keys cover every output column; "
        "rank/dense_rank are tie-stable and ntile permutes within "
        "identical rows",
    ("operators/windows.py", "distribution_family", "window",
     "c_acctbal,c_custkey"):
        "output-dup: same key as ranking_family; cume_dist/percent_rank "
        "are tie-stable",
    ("operators/windows.py", "gaps_and_islands", "window", "d"):
        "unique: distinct() on (o_custkey,d) precedes the window",
    ("operators/windows.py", "running_sum_frame", "window",
     "o_orderdate,o_orderkey,o_totalprice"):
        "full-row: o_totalprice (the consumed payload) closes the key "
        "(r16 null-heavy certification fix)",
    ("operators/windows.py", "range_frame_trailing", "window",
     "F.unix_timestamp('o_orderdate')"):
        "tie-safe: RANGE frame unites equal-timestamp peers; "
        "sum/count are tie-insensitive",
    ("operators/windows.py", "distributed_prefix_sum", "window",
     "ts,event_id,value"):
        "full-row: value closes the key over the consumed column "
        "(r15 fix)",
    ("operators/windows.py", "distributed_prefix_sum", "window", "day"):
        "unique: offset scan over per-day totals (one row per day)",
    ("operators/windows.py", "rolling_stats", "window",
     "ts,event_id,value"):
        "full-row: value closes the key over the consumed column "
        "(r15 null-heavy fix)",
    ("pipeline.py", "dedup_first_wins", "window", "identifier"):
        "output-dup with a declared caveat: survivors tie on the content "
        "key (identical text by sha2) — identifier-tied winners may "
        "differ in non-content metadata columns; generic-API behavior "
        "documented in the docstring",
    ("search.py", "elbow_cut", "window", "F.asc(distance_col)"):
        "tie-safe: same argument as operators/sorts.elbow_cut — tied "
        "rows share the distance, intra-run diffs are 0, a cut at a tie "
        "run drops the whole run under every permutation",
    ("search.py", "neighbor_merge", "window", "index_col"):
        "unique: chunk_index is unique per origin by chunker "
        "construction (posexplode)",
    ("search.py", "cosine_topk", "limit", "distance,F.asc(id_col)"):
        "output-dup: every output column (id, cos_sim, distance) is a "
        "function of the key columns",
    ("search.py", "search", "limit", "cos_sim"):
        "tie-safe: chunk_id is the chunk table's key, so the join emits "
        "at most k rows and limit(k) drops nothing; cos_sim ties only "
        "permute the presentation order",
    ("sources/conversations.py", "group_conversations", "window", "seq"):
        "unique: the parser emits a strictly increasing seq per doc_path",
}


def _chain_root(node: ast.AST) -> ast.AST:
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, (ast.Attribute, ast.Subscript)):
            node = node.value
        else:
            return node


_WRAP = re.compile(r"^F\.(?:desc|asc|col)\(('[^']*'|\"[^\"]*\")\)$")


def _norm_arg(a: ast.AST) -> str:
    t = ast.unparse(a)
    t = re.sub(r"\.(?:asc|desc)(?:_nulls_(?:first|last))?\(\)$", "", t)
    m = _WRAP.match(t)
    if m:
        t = m.group(1)
    return t.strip("'\"") if re.match(r"^['\"][^'\"]*['\"]$", t) else t


def discover_sites() -> list[tuple[str, int, str, str, str]]:
    """Every .orderBy call in the engine package as
    (relpath-within-package, lineno, enclosing function, class, keys)."""
    sites = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"),
                                 recursive=True)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        rel = os.path.relpath(path, PKG)
        parents: dict[ast.AST, ast.AST] = {}
        for node in ast.walk(tree):
            for ch in ast.iter_child_nodes(node):
                parents[ch] = node

        def func_of(n: ast.AST) -> str:
            while n in parents:
                n = parents[n]
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    return n.name
            return "<module>"

        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
            ):
                continue
            root = _chain_root(node.func.value)
            is_window = isinstance(root, ast.Name) and root.id in (
                "W", "Window",
            )
            consumers, n = [], node
            while n in parents:
                p = parents[n]
                if isinstance(p, ast.Attribute):
                    consumers.append(p.attr)
                elif not isinstance(p, ast.Call):
                    break
                n = p
            keys = ",".join(_norm_arg(a) for a in node.args)
            kind = (
                "window"
                if is_window
                else (
                    "limit"
                    if any(c in _POSITIONAL_CONSUMERS for c in consumers)
                    else "plain"
                )
            )
            sites.append((rel, node.lineno, func_of(node), kind, keys))
    return sites


def test_registry_wide_order_totality():
    sites = discover_sites()
    assert len(sites) >= 70, "discovery collapsed — AST walk broken?"

    missing, used = [], set()
    for rel, line, fn, kind, keys in sites:
        if kind == "plain":
            continue  # presentation-only sort; comparators are order-blind
        if "monotonically_increasing_id" in keys:
            continue  # unique by construction
        entry = (rel, fn, kind, keys)
        reason = ALLOWLIST.get(entry)
        if not reason:
            missing.append(f"{rel}:{line} {fn} [{kind}] keys=({keys})")
        else:
            used.add(entry)

    assert not missing, (
        "order-dependent site(s) without a reviewed totality entry — "
        "either make the key total (the r12 recipe: append the consumed "
        "payload columns) or add an allowlist entry with a reviewed "
        "reason:\n  " + "\n  ".join(missing)
    )

    stale = sorted(set(ALLOWLIST) - used)
    assert not stale, (
        "allowlist entries no longer matching any live site (key tuple "
        "changed or site removed — re-review):\n  "
        + "\n  ".join(map(str, stale))
    )


# Engine sites whose oracle legitimately uses a DIFFERENT decomposition,
# so the engine's key tuple cannot appear verbatim in the oracle text.
# (function, keys) -> reason.
ORACLE_DECOMPOSITION_EXEMPT: dict[tuple[str, str], str] = {
    ("trend_weekly_growth", "week"):
        "oracle orders by the date_trunc expression, not the alias",
    ("range_join_binned", "t,kind,row_id,sign"):
        "oracle is the naive LEFT JOIN form — no prefix-sum stream",
    ("range_join_binned", "bucket"):
        "oracle is the naive LEFT JOIN form — no bucket offset scan",
    ("bottomk_sample_quantiles", "h,o_orderkey,o_totalprice"):
        "oracle inlines the md5 hash expression where the engine "
        "materializes column h",
    ("text_zipf_fit", "n,g"):
        "oracle ranks with ONE global window; the engine's two-level "
        "(histogram offset + within-group) decomposition is pinned "
        "bit-identical by its own test",
    ("text_zipf_fit", "term"):
        "same two-level decomposition",
    ("sample_topk_per_source", "h,doc_id"):
        "oracle inlines the hash expression",
    ("ann_recall_report", "qd2,cell_id"):
        "oracle inlines the squared-L2 expression",
    ("ivf_topk", "qd2,cell_id"):
        "oracle inlines the squared-L2 expression",
    ("distributed_prefix_sum", "day"):
        "oracle uses one global window; the engine's per-day offset "
        "scan is the distributed decomposition",
}


def test_engine_order_keys_appear_in_oracle_text():
    """Engine↔oracle sort-key consistency: for every reviewed
    window/limit site whose keys are plain columns, the SAME column
    sequence must appear in an ORDER BY of the paired oracle SQL
    (optionally qualified / DESC / NULLS-annotated). This pins the
    desync mode every totality fix this round had to patch twice —
    engine edited, oracle forgotten (or vice versa) — at build time.
    Sites where the oracle legitimately uses another decomposition are
    exempt with a reason above; an exemption whose site vanished goes
    stale-loud like the main allowlist."""
    import __spark_entry__ as contract

    qs, orc = contract.queries(), contract.oracle_sql()
    fn2q: dict[str, list[str]] = {}
    for name, fn in qs.items():
        fn2q.setdefault(fn.__name__, []).append(name)

    def key_pattern(keys: str):
        cols = keys.split(",")
        if any(not re.match(r"^[a-z_0-9]+$", c) for c in cols):
            return None  # expression keys — not textually matchable
        part = r"[\w\.]*%s(\s+(DESC|ASC))?(\s+NULLS\s+(FIRST|LAST))?"
        return re.compile(
            r"ORDER\s+BY\s+"
            + r"\s*,\s*".join(part % re.escape(c) for c in cols),
            re.I,
        )

    missing, used_exempt = [], set()
    for (file, fn, kind, keys) in ALLOWLIST:
        pat = key_pattern(keys)
        if pat is None:
            continue
        if (fn, keys) in ORACLE_DECOMPOSITION_EXEMPT:
            used_exempt.add((fn, keys))
            continue
        for qname in fn2q.get(fn, []):
            sql = orc.get(qname)
            if sql and not pat.search(sql):
                missing.append(
                    f"{fn} [{kind}] ({qname}): engine keys ({keys}) not "
                    "found in any oracle ORDER BY — engine/oracle desync?"
                )
    assert not missing, "\n".join(missing)
    stale = sorted(set(ORACLE_DECOMPOSITION_EXEMPT) - used_exempt)
    assert not stale, f"stale decomposition exemptions: {stale}"
