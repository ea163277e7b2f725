"""Simulate the grading driver: entry() smoke + queries() vs oracle_sql() via DuckDB.

Usage: python tools/verify_contract.py [sf_dir] [--record] [query_name ...]
Defaults to /root/testdata/sf0.01 and all queries.

``--record`` (full sweeps only) writes the result into this checkout's
committed record for the fixture dir (``CORRECTNESS_FULL*.json``);
without it a run leaves the tree untouched.
"""
import sys, os, json, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    # a flag may come first (`--record <dir>`): take the first directory
    sf_dir = next((a for a in sys.argv[1:] if os.path.isdir(a)), sf_dir)
    record_run = "--record" in sys.argv[1:]
    only = [a for a in sys.argv[1:] if not os.path.isdir(a) and a != "--record"]

    from pyspark.sql import SparkSession
    # FDIP_VERIFY_SHUFFLE_PARTITIONS: the 8-partition default is sized
    # for the driver SFs; a 100x decade fixture needs partitions to
    # scale with the data (guide §5 — smaller per-task sort/agg state;
    # ngram_jaccard at testdata_heaps2 exhausted execution memory with
    # 6M-row window+merge sorts per task at 8 partitions and passed at
    # 64)
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions",
                     os.environ.get("FDIP_VERIFY_SHUFFLE_PARTITIONS", "8"))
             # 4g: the DEFAULT 1g JVM is fine at the driver SFs but a
             # 10x decade fixture needs partitions-per-heap headroom
             # (pagerank's 8 concurrent hash-aggregate tasks OOM'd 1g
             # at heaps1); the grading driver's own session is its
             # business — this tool sizes for the biggest local fixture.
             # FDIP_VERIFY_DRIVER_MEM overrides for decades beyond that
             # (heaps3's 5M-doc text corpus OOMs a 4g heap collecting
             # corpus-sized results)
             .config("spark.driver.memory",
                     os.environ.get("FDIP_VERIFY_DRIVER_MEM", "4g"))
             .getOrCreate())
    import __spark_entry__ as m

    import duckdb
    con = duckdb.connect()
    try:
        # an O(n^2)-at-scale oracle must die on its temp budget, not
        # fill the disk under the Spark shuffle dirs (observed: 45 GB
        # spill from one oracle at the heaps1 decade); the memory
        # limit gives heavyweight-but-bounded oracles (the unrolled
        # 3-iteration pagerank replay) room to finish in RAM first
        con.execute("SET memory_limit='48GB'")
        con.execute("SET max_temp_directory_size='24GB'")
    except Exception:
        pass  # older duckdb without the settings
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = m.queries()
    oracles = m.oracle_sql()
    names = only or list(qs)
    results = {}
    times = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = f"SPARK_ERR {type(e).__name__}: {e}"
            times[name] = round(time.time() - t0, 2)
            print(name, results[name][:300]); continue
        if name not in oracles:
            results[name] = f"no_oracle rows={len(sdf)}"
            times[name] = round(time.time() - t0, 2)
            print(f"{name}: {results[name]} ({times[name]}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"ORACLE_ERR {type(e).__name__}: {e}"
            times[name] = round(time.time() - t0, 2)
            print(name, results[name][:300]); continue
        # normalize: sort columns by name, rows by all columns, per-column str
        def norm(df):
            df = df[sorted(df.columns)]
            df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
            return df.apply(lambda s: s.astype(str))
        sn, on = norm(sdf), norm(odf)
        if list(sn.columns) != list(on.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(sn.columns)} oracle={list(on.columns)}"
        elif len(sn) != len(on):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(sn)} oracle={len(on)}"
        elif len(sn) == 0:
            # both empty: equal by definition (empty frames can compare
            # unequal on dtype alone, and idxmax would choke below)
            results[name] = "ok rows=0"
        elif not sn.equals(on):
            diff = (sn != on).any(axis=1)
            i = diff.idxmax()
            results[name] = f"VALUE_MISMATCH first_row={i} spark={sn.loc[i].to_dict()} oracle={on.loc[i].to_dict()}"
        else:
            results[name] = f"ok rows={len(sn)}"
        times[name] = round(time.time() - t0, 2)
        print(f"{name}: {results[name][:200]} ({times[name]}s)")

    bad = {k: v for k, v in results.items() if not (v.startswith("ok") or v.startswith("no_oracle"))}
    print(json.dumps({"total": len(results), "ok": len(results) - len(bad), "bad": list(bad)}))
    if record_run and not only:  # full sweep → the committed record
        # drift-normalize the record (round-9 verdict task #4): the
        # frozen CPU probe stamps this session so timings in records
        # from different sessions compare in calibrated seconds
        try:
            sys.path.insert(0, os.path.join(REPO, "tools"))
            from calibration import drift
            calibration = drift(spark, "local8")
        except Exception as e:  # never fail the sweep over the probe
            calibration = {"probe_err": f"{type(e).__name__}: {e}"}
        # each fixture dir keeps its OWN record file — a sweep at one
        # scale must never clobber the committed record of another
        base = os.path.basename(sf_dir.rstrip("/"))
        if base == "sf0.1":
            name = "CORRECTNESS_FULL_SF01.json"
        elif base == "sf0.01":
            name = "CORRECTNESS_FULL.json"
        else:
            name = f"CORRECTNESS_FULL_{base.upper()}.json"
        record = os.path.join(REPO, name)
        with open(record, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "total": len(results), "ok": len(results) - len(bad),
                 "bad": bad, "results": results, "times_s": times,
                 "calibration": calibration},
                fh, indent=1, sort_keys=True)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
