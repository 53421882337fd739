#!/usr/bin/env python3
"""Build the SATURATING-corpus oracle gate for the stored-side
occupancy cap (r16: Lsh.cappedStored wired into d9/st7).

At the driver's correctness scales the cap never engages, and at sf1
it engages without changing any VERIFIED result (recall 1.0 — true
near-dups live in informative buckets). This corpus is the missing
leg: a 150-doc near-identical template cluster saturates every band
bucket far past the cap, so the capped candidate set provably DIFFERS
from the uncapped one (measured: d9 pair recall 0.26, st7 0.50 —
while kept/drop verdict agreement stays 1.00, the cap's design
point). Running graft.Verify + tools/check.py for d9/st7 against this
directory therefore gates the ORACLE MIRROR of the cap exactly where
it bites — Spark and DuckDB must state the same capped semantics, not
just agree on corpora where the cap is a no-op.

Usage: python3 tools/gen_satgate.py [outdir]   # default /tmp/satgate
       (copies the non-document tables from /root/testdata/sf0.001)
Then:  tools/run.sh graft.Verify <outdir> /tmp/vout_satgate \
           d9_incremental_dedup st7_stream_near_dup
       python3 tools/check.py <outdir> /tmp/vout_satgate \
           d9_incremental_dedup st7_stream_near_dup
"""
import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

out = Path(sys.argv[1] if len(sys.argv) > 1 else "/tmp/satgate")
out.mkdir(parents=True, exist_ok=True)
src = Path("/root/testdata/sf0.001")
for f in src.glob("*.parquet"):
    shutil.copy(f, out / f.name)

rows = []
# 150 near-identical template docs (ids 0..149): saturate every band
# bucket far past BucketCap=16, across both d9's %5 old/new split and
# st7's %3 batch split
for i in range(150):
    rows.append((i, "the same boilerplate template text repeated across the "
                    "crawl again and again and again with a tiny tail variation "
                    f"token_{i}"))
# 250 varied docs (ids 150..399), each mostly unique
for i in range(150, 400):
    base = (f"unique document number {i} talks about topic {i % 7} "
            "with content words " +
            " ".join(f"w{(i * 13 + j) % 911}" for j in range(18)))
    rows.append((i, base))
# a handful of exact dup pairs across the %5 boundary: each copies the
# varied doc 247 ids back (ids 153..172), and 247 is nonzero mod 5 and
# mod 3, so every pair straddles both d9's old/new split and st7's
# batch split
for i in range(400, 420):
    rows.append((i, rows[i - 247][1]))

ids = [r[0] for r in rows]
texts = [r[1] for r in rows]
t = pa.table({
    "doc_id": pa.array(ids, pa.int64()),
    "text": pa.array(texts, pa.string()),
    "lang": pa.array(["en"] * len(rows), pa.string()),
    "source": pa.array(["satgate"] * len(rows), pa.string()),
    "n_chars": pa.array([len(x) for x in texts], pa.int64()),
})
pq.write_table(t, out / "documents.parquet")
print(f"wrote {t.num_rows} docs to {out}/documents.parquet")
