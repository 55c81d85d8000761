"""Print formatted physical plans for headline queries + plan-quality
checks (pushed filters, pruned schemas, codegen spans, broadcast joins,
expensive expressions repeated inside one Filter condition).

Usage: python tools/explain_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "filter_word_number",
    "dedup_exact_md5",
    "window_tumbling",
    "assembly_conversations",
    "join_user_assistant",
    "ann_topk_bruteforce",
    "top_orders_per_segment",
    "pipeline_pt_chain",
    "bm25_topk",
    "dedup_minhash_lsh",
    "split_semantic",
    "sql_component_classify",
    "html_to_markdown_doc",
    "kcenter_select",
    "ann_topk_ivf",
    "score_bigram_perplexity",
    "superfiltering_ifd",
    "sample_hash_fraction",
    "cap_per_source",
    "answer_judger_math",
    "sketch_profile_kmv",
    "score_trigram_kn",
    "score_token_count_bpe",
    "answer_token_length_filter_bpe",
    # round 6
    "score_perplexity_cjk",
    "classify_source_nb",
    "extract_smiles",
    "smiles_equivalence",
    "speech2text_stub",
    "vqa_stub",
    "text2sql_prompt",
    # round 7
    "score_perplexity_thai",
    "dsir_logweights",
    "dsir_select_gumbel",
    "line_dedup_global",
    "dedup_substrings_global",
    "ccnet_ppl_buckets",
    "ccnet_pipeline",
    "dedup_semdedup_kmeans",
    "quality_signals",
    "paragraph_dedup_global",
    "curriculum_pack_shards",
    "hist_quantiles_quality",
    "classify_lang_chargram",
    "bm25_hard_negatives",
    "tfidf_top_terms",
    "score_distinct_n",
    "crossdoc_ngram_overlap",
    "refine_c4_lines_doc",
    "gopher_pipeline",
    "assign_hash_splits",
    "pack_token_shards",
    "mixture_sample_sources",
    "gopher_top_bigram_char",
    "decontaminate_ngram",
]


# calls that build one object per match or token; a Filter condition
# has no subexpression elimination, so each repeat costs the full call
EXPENSIVE_CALLS = ("regexp_extract_all(", "split(")


def _calls(text: str, head: str):
    """Every ``head...)`` call in ``text``, up to its matching paren."""
    i = text.find(head)
    while i >= 0:
        depth, j = 0, i + len(head) - 1
        for j in range(j, len(text)):
            depth += {"(": 1, ")": -1}.get(text[j], 0)
            if depth == 0:
                break
        yield text[i : j + 1]
        i = text.find(head, i + 1)


def repeated_in_filters(jplan) -> dict[str, int]:
    """``{call: times}`` for each EXPENSIVE_CALLS call written more than
    once in one Filter condition of the (JVM) plan tree ``jplan``."""
    out: dict[str, int] = {}
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Filter":
            cond = node.condition().toString()
            counts = Counter(c for head in EXPENSIVE_CALLS for c in _calls(cond, head))
            for call, n in counts.items():
                if n > 1:
                    out[call] = max(n, out.get(call, 0))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from dataflow_spark.entry_queries import build_queries
    from dataflow_spark.session import get_spark

    spark = get_spark("explain", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    q = build_queries()
    print("# Physical plans (judge artifact)\n")
    for name in HEADLINE:
        df = q[name](spark, sf_dir)
        df.collect()  # execute THIS QueryExecution so AQE finalizes in place
        plan = df._jdf.queryExecution().executedPlan().toString()
        checks = {
            "whole-stage codegen": "*(" in plan or "codegen id" in plan,
            "broadcast join used": "BroadcastHashJoin" in plan or "Broadcast" in plan,
            "python on hot path": "BatchEvalPython" in plan,
            "aqe final plan": "isFinalPlan=true" in plan or "AdaptiveSparkPlan" not in plan,
            "repeated in a filter": repeated_in_filters(df._jdf.queryExecution().optimizedPlan()),
        }
        explained = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        print(f"\n## {name}\n")
        print("checks:", {k: v for k, v in checks.items()})
        # plan text can contain raw newlines inside SQL string literals
        # (e.g. the html→markdown "\n\n## " replacement); pad any line
        # that would look like a markdown heading so `^## ` greps over
        # this file only ever hit real section headers
        body = "\n".join(
            (" " + ln if ln.startswith("#") else ln)
            for ln in explained[:4000].splitlines()
        )
        print("\n```\n" + body + "\n```")
    spark.stop()


if __name__ == "__main__":
    main()
