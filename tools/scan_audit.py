"""Repeated-subtree scan audit: plan every catalog query and flag
plans where the SAME parquet scan (location + pushed schema) appears
two or more times.

Why: Catalyst INLINES repeated DataFrame references — it never shares
them — so a query that counts two stages derived from one frame, or
joins a frame back to an aggregate of itself, silently re-scans (and
re-computes) the whole lineage per reference. At 100 TB a duplicated
corpus text scan is the difference between one pass and two. The r10
sweep caught curation_funnel_gated holding 27 corpus text scans for a
7-row funnel report (now 0 in the executed plan; flags-frame rewrite
in pipelines/curation.py).

A duplicate is NOT automatically a defect — legitimate shapes:
- self-joins (near-dup pair L/R sides, as-of join snapshots);
- two logical passes over the corpus (unigram LM: count table +
  scoring pass; BPE: dictionary build + attach);
- scan-twice-instead-of-materialize, when the re-read is cheaper than
  checkpointing a corpus-width intermediate (lsh_topk attaches
  vectors at verify time rather than carrying them through the band
  explode BY DESIGN).
The audit surfaces candidates; the verdict needs the operator's scale
note. Fixes so far use three moves: conditional aggregation over one
flags frame (funnel), carrying columns through a transform instead of
joining back (ivf_index), and a skinny localCheckpoint when several
consumers genuinely need the same small result (phash cluster map,
recall-contract id sets).

BY_DESIGN below records the accepted shapes: a row listed there prints
``bydesign`` with its reason instead of ``FLAG``.

Usage:
    python tools/scan_audit.py [sf_dir] [query ...]   # default: all
Prints one line per flagged or by-design query. Unknown query names exit
1 before the sweep; otherwise exits 0 always (advisory) and the FLAG
lines are the work list.
"""

from __future__ import annotations

import collections
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EXPENSIVE = ("text:string", "embedding")

# Documented by-design repeated-scan shapes; decisions recorded in the
# rows' docstrings / PLANS.md.
BY_DESIGN = {
    "dedup_lsh_recall": "exact-pair-engine self-join sides (the "
    "registered near-dup rows' accepted class); measurement is "
    "universe-bounded",
    "similarity_matryoshka_recall": "one cosine-topk pass per prefix "
    "dim — re-reading the pruned scan beats materializing a "
    "corpus-width copy (the hamming_topk stats-then-transform trade)",
    "text_bpe_fertility": "bpe_segment's dictionary-replay shape "
    "(unique-word table + posexplode re-attach) plus the word/char "
    "stats pass — the registered text_bpe_segment's accepted class",
    "text_trigram_logprob_heldout": "bi/tri count tables re-scan the "
    "pruned train text instead of materializing a tagged combined "
    "aggregate (near corpus-scale on Zipfian text; the bigram_logprob "
    "/ DSIR decline-record trade, A/B'd 2x slower cold at sf0.1 — "
    "PLANS.md); only the vocab-sized unigram table checkpoints",
    "text_cut_dup_spans": "the stride-1 window stream feeds the "
    "occurrence aggregate AND the cut join; at ~16 bytes per token "
    "position the stream outweighs the text, so re-scanning beats "
    "materializing (recorded decline, A/B'd at sf0.1 — PLANS.md)",
    # The entries below were classified when the audit first swept the
    # FULL registered catalog (r12) instead of only the bank: each is
    # an instance of an accepted class already recorded above or in
    # PLANS.md r10/r11 for a sibling row. All are 2x scans whose
    # second read is a distinct LOGICAL side, not a Catalyst re-inline.
    "curation_funnel": "one flags-frame pass (the r10 27->0 fix) plus "
    "the exact-pair-engine text pass — the funnel's near-dup stage "
    "necessarily reads the corpus once itself",
    "dedup_incremental_batch": "batch-vs-store semantics: the probe "
    "batch and the index store are distinct logical sides that the "
    "fixture derives from the same table",
    "sample_dsir_select": "DSIR's two LM sides (in-domain target vs "
    "corpus background) each count over text — the two-pass corpus-LM "
    "accepted class (the bigram_logprob decline-record trade)",
    "similarity_hamming_topk": "stats-then-transform: threshold stats "
    "pass then encode pass — documented by-design on the row since "
    "r11 registration",
    "similarity_lsh_topk": "items side and sampled-queries side each "
    "band the embeddings table — two logical sides of the top-k join",
    "similarity_near_dup_embeddings": "exact-pair self-join sides at "
    "the demo threshold (the brute escape hatch; the accepted class "
    "of dedup_lsh_recall above)",
    "text_bpe_segment": "dictionary-replay shape: unique-word table "
    "plus posexplode re-attach (named as this row's accepted class "
    "in the text_bpe_fertility entry above)",
    "text_jaccard_near_dups": "exact-pair self-join sides (the "
    "accepted near-dup pair-engine class)",
    "text_unigram_logprob": "two-pass corpus LM: count table plus "
    "scoring pass (the bigram_logprob accepted class)",
}


def main() -> int:
    from hummingbirddatapipeline_spark.catalog import QUERIES
    from hummingbirddatapipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    unknown = sorted(only - set(QUERIES))
    if unknown:
        print(f"unknown row name(s): {unknown}")
        return 1
    spark = get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    names = sorted(only or QUERIES)
    n_flagged = n_by_design = 0
    for name in names:
        try:
            plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 — advisory tool
            print(f"ERROR {name}: {str(e)[:100]}")
            continue
        # signature = (location, pushed filters, schema): two scans of
        # the same file with DIFFERENT pushed filters are different
        # passes (e.g. an even/odd corpus split), not a duplicate
        sigs, loc, pf = [], "?", ""
        for s in re.findall(
            r"Location:[^\n]*|PushedFilters: [^\n]*|ReadSchema: [^\n]*", plan
        ):
            if s.startswith("Location"):
                loc, pf = s, ""
            elif s.startswith("PushedFilters"):
                pf = s
            else:
                sigs.append((loc, pf, s))
        dups = {
            k: v
            for k, v in collections.Counter(sigs).items()
            if v >= 2 and any(m in k[2] for m in EXPENSIVE)
        }
        if dups and name in BY_DESIGN:
            n_by_design += 1
            print(f"bydesign {name}: {BY_DESIGN[name]}")
        elif dups:
            n_flagged += 1
            detail = ", ".join(
                f"{v}x {k[2][:70]}" for k, v in sorted(dups.items())
            )
            print(f"FLAG {name}: {detail}")
    print(f"\n{n_flagged} flagged, {n_by_design} by design, of {len(names)}")
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
