package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    // layout staging cost is reported separately (stage_sec)
    val stageSec = GraftSession.prepare(spark, sfDir)
    // standard warmup-then-measure: pass 1 (timed as "cold") pays per-plan
    // codegen compilation + JIT; pass 2 measures steady-state execution —
    // the number that reflects engine throughput on a long-running
    // cluster. Both totals are reported.
    // toRdd.count() executes the EXACT physical plan (every projection,
    // sort and limit) and iterates the result rows — df.count() would let
    // Catalyst prune projections and drop sorts, under-measuring
    // projection-heavy and ordered queries.
    // SPARK_GRAFT_ONLY=q55,q69 (query-id token match) narrows the set for
    // local iteration; unset (the driver's invocation) runs everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    // registry queries + bench-only fast-path variants (q36f/q37f/q41f:
    // the xxhash expression forms whose oracle-gated twins use md5)
    def selected = (SparkEntry.queries.toSeq ++
        Registry.benchExtras.map(q => q.name -> q.run)).sortBy(_._1)
      .filter { case (n, _) => Registry.selectedBy(only, n) }
    // a crashing query must not masquerade as a fast one: elapsed-to-crash
    // is recorded (the pass total stays comparable) but the name is also
    // collected, and the failed set rides the output artifacts so the
    // paired comparator can exclude it from the engine/DuckDB ratio
    val failedNames = scala.collection.mutable.LinkedHashSet[String]()
    def runAll(): Seq[(String, Double)] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count() }
        catch { case _: Throwable => failedNames.add(name): Unit }
        name -> (System.nanoTime() - t0) / 1e9
      }
    val cold = runAll()
    // three measured steady-state passes; per-query medians damp GC/JIT
    // noise (single-pass totals vary ±2s run to run)
    val passes = Seq(runAll(), runAll(), runAll())
    // ChainCache-memoized queries: warm passes time a cached-block scan,
    // not the query — report the cold (first-in-session) time for them,
    // so per-query dicts and the paired comparator divide like by like
    val coldMap = cold.toMap
    val results = passes.head.map(_._1).map { name =>
      val ts = passes.map(_.find(_._1 == name).get._2).sorted
      val v =
        if (Registry.memoizedNames.contains(name)) coldMap(name)
        else ts(ts.size / 2)
      name -> v
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val coldTotal = cold.map(_._2).sum
    // Σ warm medians for ALL queries (memoized owners included at their
    // warm serve time): the steady-state suite number that stays
    // comparable across rounds — `value` charges owners at cold (incl.
    // materialization), which made round-over-round reads of the
    // headline structurally confounded (verdict d19 item 6). Additive
    // field only; `value` semantics unchanged.
    val warmTotal = passes.head.map(_._1).map { name =>
      val ts = passes.map(_.find(_._1 == name).get._2).sorted
      ts(ts.size / 2)
    }.sum
    val passTotals = passes.map(_.map(_._2).sum).map(t => f"$t%.2f").mkString("[", ",", "]")
    // verbose line first (full query names, methodology) for humans reading
    // the whole log…
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cold_total_sec":$coldTotal,"warm_total_sec":$warmTotal,"stage_sec":$stageSec,"pass_totals_sec":$passTotals,"methodology":"per-query full physical-plan execution (queryExecution.toRdd.count) at local[$cpus]; one-time order-preserving row-group layout staging (stage_sec, excluded from query times), one untimed warmup pass (codegen/JIT), then three measured passes, per-query median reported (ChainCache-memoized chain queries report their cold first-in-session time instead: warm passes only scan the pinned frame); first post-warmup pass total in cold_total_sec"}""")
    // …and the COMPLETE compact per-query dict to a FILE (the driver's
    // stdout tail keeps only ~2000 chars — 261 entries × ~13 chars never
    // fit, which left BENCH_rN.json unparseable; the file always has all
    // of them)…
    val qsShortAll = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + f"$v%.3f" }
    val failedJson = failedNames.toSeq
      .map("\"" + _.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    // memo_consumers (ADVICE r18): queries whose warm medians exclude
    // ChainCache-memoized upstream work owned by another query (chain
    // passes, similarity trainings) — their entries measure serve-time
    // cost only, so cross-round and paired readers must not compare
    // them against pre-memo rounds as if the semantics were unchanged
    val memoConsumersJson = Registry.memoConsumerNames.toSeq.sorted
      .map("\"" + _.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    val fullLine = f"""{"metric":"total","value":$total%.2f,"unit":"sec","sf":"$sfDir","cold":$coldTotal%.2f,"warm":$warmTotal%.2f,"stage":$stageSec%.2f,"passes":$passTotals,"failed":$failedJson,"memo_consumers":$memoConsumersJson,"method":"toRdd.count median-of-3 after warmup; memoized owners report cold time; memo_consumers' warm medians exclude memoized upstream work","queries":${qsShortAll.mkString("{", ",", "}")}}"""
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_last_full.json"),
      fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () } // read-only cwd: tail only
    // …then a SELF-CONTAINED compact headline as the very LAST line: the
    // driver keeps only the final ~2000 stdout chars, which cannot carry
    // 281 plain-text entries — so the COMPLETE per-query dict rides
    // inline as gzip+base64 of a "name:millis,…" CSV (≈1.6 KB for 281
    // entries vs 3.5 KB plain). One artifact, zero companion lookups:
    //   dict = {k: int(v) for k, v in (e.split(':') for e in
    //     gzip.decompress(base64.b64decode(j['queries_gz']))
    //       .decode().split(','))}
    // cross-round normalization controls (ADVICE r14): the medians of
    // three queries untouched since round 1, so a driver-machine speed
    // drift can be divided out without the quiet-bench companion
    // qc1 (BenchControls.controlPairs, added r18) is the shuffle-heavy
    // control: q01/q23/q53 are scan-agg shapes and understated r17's
    // drift on pair-mass rows
    val controlNames = Seq("q01_bestsellers", "q23_ship_delay",
      "q53_shipping_priority", "qc1_control_pairs")
    val controls = controlNames.flatMap(n =>
      results.find(_._1 == n).map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + math.round(v * 1000) })
      .mkString("{", ",", "}")
    // key by pre-underscore prefix ONLY while prefixes stay unique — two
    // names sharing a prefix would silently collapse to one dict entry
    // (ADVICE r14); on collision fall back to full names (gzip makes the
    // shared suffixes nearly free)
    val prefixes = results.map(_._1.takeWhile(_ != '_'))
    val usePrefix = prefixes.distinct.size == results.size
    def gz64(s: String): String = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      gz.close()
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    // the driver retains only the final ~2000 stdout chars (with sbt's
    // [success] line inside the window) — a headline past ~1900 chars
    // would push its own JSON head out of the tail and become
    // unparseable (ADVICE r14). The suite outgrew the every-query-inline
    // form at 287 entries, so the inline dict is the LARGEST cost-ordered
    // subset that fits the budget (n_shown/n_total say what was dropped;
    // BENCH_last_full.json always has all of them).
    val entries = results.sortBy(-_._2).map { case (k, v) =>
      (if (usePrefix) k.takeWhile(_ != '_') else k) + ":" +
        math.round(v * 1000) }
    def headlineOf(n: Int): String = {
      val qgz = gz64(entries.take(n).mkString(","))
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","sf":"$sfDir","cold":$coldTotal%.2f,"warm":$warmTotal%.2f,"stage":$stageSec%.2f,"passes":$passTotals,"method":"toRdd.count median-of-3 after warmup + one-time layout staging","n_shown":$n,"n_total":${results.size},"controls":$controls,"enc":"queries_gz = base64(gzip('name:millis,...')) cost-ordered; full dict in BENCH_last_full.json","queries_gz":"$qgz"}"""
    }
    // largest prefix under budget (gzip length is monotone enough in n;
    // a linear walk from the full set down is simplest and exact)
    val n = (results.size to 0 by -1)
      .find(k => headlineOf(k).length <= 1900).getOrElse(0)
    println(headlineOf(n))
    spark.stop()
  }
}
