#!/usr/bin/env python3
"""Selective min-merge for an optimization-round bench record.

Final-code sweeps fold for every query. The pre-change baseline sweep
folds ONLY for queries whose code is IDENTICAL between the round's
inherited HEAD and the final tree — i.e. everything outside T_FINAL
(the queries whose code, or whose consumed builder/shared-frame code,
changed this round). Intermediate-code sweeps are excluded entirely:
they measured code that no longer exists.

r19 ADVICE fixes: T_FINAL names are validated against the sweeps' query
keys (an unknown name — e.g. r18's 'multimodal_dedup_text' typo — would
silently make the real changed query eligible for baseline folding),
and the merged record must cover exactly the base sweep's query set.
"""
import json, sys

# Queries whose code changed in r19 (directly, or through a changed
# builder / shared frame): multimodal rows (repartition(32) -> fanOut),
# the star argmin rewrite, the unfanned near-dup corpus consumers, the
# persisted PQ cell encoding, the single-pass HNSW ef sweep, and the
# shared bm25 scan frame's consumers.
T_FINAL = set("""
multimodal_decode multimodal_decode_mixed
multimodal_decode_hostile multimodal_audio multimodal_audio_hostile
multimodal_audio_features multimodal_frames multimodal_resize
multimodal_knn multimodal_knn_recall multimodal_knn_exact
multimodal_features
star_min_cost_supplier
dedup_components dedup_twin_agreement dedup_ngram
dedup_best_survivor pipeline_clean
ann_ivfpq ann_ivfpq_recall ann_hnsw_recall_sweep ann_hnsw_deleted
retrieval_bm25_append_agreement retrieval_rrf retrieval_hard_negatives
retrieval_triplets retrieval_eval_ndcg retrieval_maxsim_recall
text_top_terms lm_bigram_fluency lm_ccnet_buckets dsir_select
""".split())

out, base_sweep, *final_sweeps = sys.argv[1:]
merged, cal = {}, []
sf = None
for p in final_sweeps:
    d = json.load(open(p))
    assert not d.get("errors"), f"{p} carries errors"
    sf = sf or d.get("sf"); assert d.get("sf") == sf
    for q, t in d["queries"].items():
        merged[q] = min(t, merged.get(q, float("inf")))
    cal.extend(d.get("calibration", []))
d = json.load(open(base_sweep))
assert d.get("sf") == sf and not d.get("errors")
# every T_FINAL name must exist in the final sweeps' query keys —
# a typo here silently lets old-code timings into the record
unknown = T_FINAL - set(merged)
assert not unknown, f"T_FINAL names not in the final sweeps: {sorted(unknown)}"
folded = 0
for q, t in d["queries"].items():
    if q not in T_FINAL and t < merged.get(q, float("inf")):
        merged[q] = t; folded += 1
cal.extend(d.get("calibration", []))
# coverage: a query present only in the base sweep (or only in the
# final sweeps) means a dropped/added row — surface it, never shrink
# the record silently
extra_final = set(merged) - set(d["queries"])
missing_final = set(d["queries"]) - set(merged)
assert not missing_final, f"queries missing from final sweeps: {sorted(missing_final)}"
if extra_final:
    print(f"note: {len(extra_final)} queries are new since the base sweep: "
          f"{sorted(extra_final)}")
total = round(sum(merged.values()), 2)
qs = dict(sorted(merged.items(), key=lambda kv: -kv[1]))
json.dump({"metric": "total", "value": total, "unit": "sec", "queries": qs,
           "sweeps_merged": len(final_sweeps) + 1,
           "base_sweep_rows_folded": folded,
           "calibration": cal, "cal_nominal": 0.026,
           "nominal_window": False, "sf": sf}, open(out, "w"))
print(f"final sweeps {len(final_sweeps)}, base rows folded {folded} -> total {total}s")
