"""Plan audit — physical-plan evidence for every driver query.

Writes PLANS.md: for each __spark_entry__.queries() entry, the formatted
physical plan is scanned for the scale-critical properties the engine
promises (SURVEY.md §6 / task brief):

- pushdown:   PushedFilters at the parquet scan (non-empty where the query
              filters a scanned column)
- pruning:    ReadSchema column count vs the table's full width
- codegen:    number of WholeStageCodegen spans (JVM hot path) and whether
              any Python eval (ArrowEvalPython / MapInPandas / FlatMap*)
              appears — allowed only for the documented Arrow-batched ops
- broadcast:  BroadcastHashJoin / BroadcastNestedLoopJoin vs SortMergeJoin
- exchanges:  shuffle count (Exchange hashpartitioning/rangepartitioning)

Run AFTER correctness (the audit reads plans, not results):
    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

PY_EVAL = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
# ops documented as Arrow-batched Python (the allowed exceptions)
PY_ALLOWED = {
    "multimodal_features",
    "multimodal_meta",
    "ann_cosine_topk",
    # r5: end-to-end PPM decode kernel (operators/multimodal.py) and the
    # entropy Counter kernel (functions/text.py::char_ngram_entropy,
    # 6.5x over the interpreted-HOF expression form it replaced)
    "multimodal_decode",
    # r5: decode -> 2x2 floor-average pool -> PPM re-encode -> decode again
    # (two documented Arrow kernels chained)
    "multimodal_resize",
    "text_ngram_entropy",
    # r5: WAV decode -> amplitude stats (the audio twin of multimodal_decode)
    "audio_features",
    # r5: Y4M decode -> per-frame plane stats + temporal motion (the video
    # twin; third end-to-end decodable modality)
    "video_features",
    # r6 (OPTIMIZATION_r06.md, guide §4.2): the vector/dedup/retrieval hot
    # paths moved from interpreted HOF folds into Arrow-batched numpy
    # kernels with the exact fold association — deliberate, oracle-gated
    # Python eval nodes, not accidents:
    "lsh_ann_topk",
    "ivf_ann_topk",
    "pq_ann_topk",
    "ivfpq_ann_topk",
    "lsh_ann_multiband",
    "embedding_dup_pairs",
    "incremental_ann_topk",
    "kmeans_train",
    "semantic_dedup",
    "minhash_lsh_bands",
    "dedup_minhash_candidates",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "duplicate_span_stats",
    "decontaminate_ngrams",
    "ngram_repetition",
    "text_feature_hash",
    "text_sparse_topk",
    "bm25_topk",
    "hybrid_rrf_topk",
    "curation_pipeline",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, df) -> dict:
    txt = plan_text(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", txt)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", txt)
    read_cols = [len([c for c in rs.split(",") if c.strip()]) for rs in read_schemas]
    return {
        # formatted mode annotates operators with [codegen id : N] and
        # prints Exchange arguments on their own line — count accordingly
        "wsc_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", txt))),
        "exchanges": len(re.findall(r"\(\d+\) Exchange\b", txt)),
        "broadcast_joins": len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", txt)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", txt)),
        "scans": len(read_schemas),
        "scan_cols": read_cols,
        "pushed_nonempty": sum(1 for p in pushed if p.strip()),
        "py_eval": sorted({p for p in PY_EVAL if p in txt}),
    }


def main() -> None:
    from arroyo_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    rows = []
    for name, fn in entry.queries().items():
        try:
            rows.append((name, audit(name, fn(spark, SF_DIR))))
        except Exception as e:  # noqa: BLE001
            rows.append((name, {"error": f"{type(e).__name__}: {e}"}))

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by tools/plan_audit.py over {SF_DIR}. Columns:",
        "WSC = WholeStageCodegen spans (JVM hot path); exch = shuffles;",
        "bcast/smj = broadcast vs sort-merge joins; scans = parquet scans",
        "(with per-scan column counts — pruning evidence); pushed = scans",
        "with non-empty PushedFilters; py = Python eval nodes (allowed only",
        "for the documented Arrow-batched ops).",
        "",
        "AQE caveat: queries containing an Exchange are wrapped in",
        "AdaptiveSparkPlan (isFinalPlan=false at explain time) whose initial",
        "plan does NOT annotate codegen ids — WSC under-reports as 0 for",
        "those rows; only exchange-free plans show their true span count.",
        "The py column (the scale-critical check) is unaffected.",
        "",
        "| query | WSC | exch | bcast | smj | scans (cols) | pushed | py |",
        "|---|---|---|---|---|---|---|---|",
    ]
    problems = []
    for name, a in rows:
        if "error" in a:
            lines.append(f"| {name} | ERROR: {a['error']} | | | | | | |")
            problems.append(f"{name}: {a['error']}")
            continue
        py = ",".join(a["py_eval"]) if a["py_eval"] else "-"
        if a["py_eval"] and name not in PY_ALLOWED:
            problems.append(f"{name}: unexpected Python eval {a['py_eval']}")
        lines.append(
            f"| {name} | {a['wsc_spans']} | {a['exchanges']} | {a['broadcast_joins']} |"
            f" {a['sortmerge_joins']} | {a['scans']} {a['scan_cols']} |"
            f" {a['pushed_nonempty']} | {py} |"
        )
    lines += [
        "",
        "## Findings",
        "",
    ]
    lines += [f"- PROBLEM: {p}" for p in problems] or [
        "- no unexpected Python eval nodes; every query runs its hot path in",
        "  WholeStageCodegen except the documented Arrow-batched kernels.",
    ]
    with open("/root/repo/PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries, {len(problems)} problems)")


if __name__ == "__main__":
    main()
