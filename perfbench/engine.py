"""The engine process of one benchmark run: a local Spark session plus
the qcache HTTP server on an ephemeral loopback port.

It answers one JSON command per stdin line with one ``@@ {json}``
line on stdout (stdout carries nothing else the generator reads):

    control   time ``spark.range(1).toPandas()`` in ms
    gc        JVM garbage-collection ms so far
    heap      the heap pools' summed peak use, then a Python GC and two
              full JVM GCs a second apart, and the heap still in use
              after them (MiB)
    trace     {"on": bool}; only in an engine started with --trace
    dump      the tracer's spans and per-request facts
    cache     {"bytes": n}; set the catalog's size limit
    quit      exit at once (the JVM follows its parent; the caller
              kills the process group after)

Usage: python3 perfbench/engine.py --cpus N --size BYTES [--trace]
"""
from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

APP_NAME = "perfbench-engine"


def _reply(obj) -> None:
    sys.stdout.write("@@ " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--cpus", type=int, required=True)
    p.add_argument("--size", type=int, required=True, help="server cache size, bytes")
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()

    from qcache_spark.server import make_server, serve_forever_in_thread
    from qcache_spark.session import get_spark

    # -XX:-UsePerfData: no hsperfdata file under /tmp; every file the
    # engine writes stays in the run's work directory.
    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    spark = get_spark(app_name=APP_NAME, cpus=args.cpus,
                      extra_conf={"spark.driver.extraJavaOptions": java_opts})
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        tracer.install()
    server = make_server(spark, host="127.0.0.1", port=0, max_cache_size=args.size)
    serve_forever_in_thread(server)
    _reply({"ready": True, "port": server.server_address[1], "pid": os.getpid()})

    management = spark._jvm.java.lang.management.ManagementFactory
    gc_beans = management.getGarbageCollectorMXBeans()
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd["op"]
        if op == "control":
            t0 = time.perf_counter()
            spark.range(1).toPandas()
            _reply({"ms": (time.perf_counter() - t0) * 1000.0})
        elif op == "gc":
            _reply({"ms": float(sum(b.getCollectionTime() for b in gc_beans))})
        elif op == "heap":
            pools = [p for p in management.getMemoryPoolMXBeans()
                     if p.getType().toString() == "Heap memory"]
            peak = sum(p.getPeakUsage().getUsed() for p in pools)
            # Python garbage still holding py4j proxies pins their JVM
            # objects, so it is collected first. Spark's ContextCleaner
            # frees the blocks of broadcasts and shuffles whose handles
            # a GC found dead on its own thread after that GC, so a
            # second GC follows a pause; then only what the engine still
            # references is left.
            gc.collect()
            management.getMemoryMXBean().gc()
            time.sleep(1.0)
            management.getMemoryMXBean().gc()
            live = management.getMemoryMXBean().getHeapMemoryUsage().getUsed()
            _reply({"peak_used_mb": peak / 2**20, "live_after_gc_mb": live / 2**20})
        elif op == "trace":
            if tracer is None:
                _reply({"error": "engine started without --trace"})
                continue
            tracer.enabled = bool(cmd["on"])
            _reply({"on": tracer.enabled})
        elif op == "dump":
            _reply(tracer.dump() if tracer is not None else {"spans": [], "requests": {}})
        elif op == "cache":
            server.RequestHandlerClass.catalog.max_size = int(cmd["bytes"])
            _reply({"bytes": int(cmd["bytes"])})
        elif op == "quit":
            break
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
