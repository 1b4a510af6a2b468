"""Interleaved A/B: sketch_kmv_distinct_users registered multipass form
vs the shared-distinct variant (r11 verdict item #1).

The tree carries contradictory measurements: r9 rejected the variant
(3.85 s vs 3.45 s, sequential best-of-3), but SCALE_PROBE_r10 measured
it FASTER (1.98 s vs 3.08 s). Both were sequential timings in different
process states; this runner interleaves R,V,R,V,R,V in ONE process
after warming BOTH forms, so page-cache / JIT asymmetry can't pick the
winner. Decision rule: flip the registered query iff the variant's
best-of-3 beats the registered best-of-3 by more than the measured
run-to-run noise band (20%, BENCH_full_r10.rerun_back_to_back).

AB_KMV_r11.json was produced BEFORE the flip, when the registered
query was still the multipass form. Since the flip the registered
query IS the shared form, and the variant is the multipass baseline
kept in tools/scale_probe.py.

Usage: python tools/ab.py kmv_shared [rounds]
"""

from __future__ import annotations

from tools.scale_probe import _kmv_distinct_multipass_baseline


ARTIFACT = "AB_KMV_r11.json"
PAIRS = [("sketch_kmv_distinct_users", _kmv_distinct_multipass_baseline)]
