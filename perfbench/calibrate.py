#!/usr/bin/env python3
"""Regenerate the golden files of catalog_head, then check them against the
DuckDB oracle.

    python3 perfbench/calibrate.py

Makes the corpus at the benchmark's scale, runs perfbench.Calibrate on the
head queries to write perfbench/golden/catalog_head.sf<x>.tsv, and runs
oracle_check.py on the kept queries that have oracle SQL; then does the same
at the self-test's scale for the same queries. Takes a few minutes.
"""
import os
import shutil
import subprocess
import sys

import inputs
import run

WORKLOAD = "catalog_head"
HEAD = ["q_tpch_q18", "q_tpch_q21", "q_dedup_clusters", "q_classifier_train",
        "q_web_curate_engine", "q_warc_gzip", "q_dedup_image_orient_anchor"]


def calibrate(scale, names):
    sf = run.SCALE[WORKLOAD][scale]
    work = os.path.join(run.OUT, f"calibrate-{WORKLOAD}-{sf}")
    shutil.rmtree(work, ignore_errors=True)
    corpus = os.path.join(work, "corpus")
    inputs.make_catalog(corpus, float(sf))
    out = os.path.join(run.HERE, "golden", f"{WORKLOAD}.sf{sf}.tsv")
    subprocess.run(run.java_cmd("perfbench.Calibrate", work, [
        "--workload", WORKLOAD, "--sf", sf, "--corpus", corpus, "--out", out, "--work", work,
        "--names", ",".join(names)]), cwd=work, check=True, stdin=subprocess.DEVNULL)
    subprocess.run([sys.executable, os.path.join(run.HERE, "oracle_check.py"), corpus,
                    os.path.join(work, "oracle.json")], check=True)
    return out


def main():
    os.makedirs(os.path.join(run.HERE, "golden"), exist_ok=True)
    run.build()
    full = calibrate("full", HEAD)
    calibrate("tiny", [l.split("\t")[0] for l in open(full) if not l.startswith("#")])


if __name__ == "__main__":
    main()
