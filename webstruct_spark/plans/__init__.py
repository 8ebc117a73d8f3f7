"""End-to-end pipeline assembly: staged KG build over a snapshot-logged
store (per-stage lineage + counters) with resume-from-last-staged
semantics."""
