#!/usr/bin/env python3
"""The format-query family: the queries of FormatQueries.queries plus
q_gvcf_combine, found as every q_bam* / q_sam_* / q_vcf* / q_cram* /
q_fastq* / q_gvcf* / q_reads* query name in a tree's src/main (q_bam2fq and
q_cram2bam included, q_sample_pergroup not). Prints them comma-separated,
ready for SPARK_GRAFT_BENCH_ONLY or -Dgraft.verify.only:

    python3 scripts/format_family.py [TREE]    # TREE defaults to this checkout
"""
import re
import sys
from pathlib import Path

NAME = re.compile(r'"(q_(?:bam|sam_|vcf|cram|fastq|gvcf|reads)[a-z0-9_]*)"')


def format_family(tree: Path):
    names = set()
    for f in (tree / "src/main/scala").rglob("*.scala"):
        names.update(NAME.findall(f.read_text()))
    return sorted(names)


if __name__ == "__main__":
    tree = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent
    print(",".join(format_family(tree)))
