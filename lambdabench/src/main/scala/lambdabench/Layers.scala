package lambdabench

import java.io.PrintWriter

/** The engine's public calls the benchmark spans, grouped by layer, and
  * the per-layer metrics computed from a traced window.
  */
object Layers {

  /** Layer → boundaries (`<module>.<call>`), in the order printed. */
  val boundaries: Seq[(String, Seq[String])] = Seq(
    "model" -> Seq("factstore.ingest", "factstore.scankind", "factstore.deduplicate",
      "servingpointer.stage", "servingpointer.flip"),
    "operators.batch" -> Seq("graphops.cc", "batchviews.pageviews", "batchviews.bounce"),
    "streaming" -> Seq("upsertstore.fold", "upsertstore.maintain", "upsertstore.lookup",
      "labelstore.fold", "labelstore.maintain", "labelstore.lookup"),
    "operators.index" -> Seq("lexindex.build", "lexindex.append", "lexindex.maintain",
      "lexindex.bm25topk", "vectorindex.build", "vectorindex.append",
      "vectorindex.maintain", "vectorindex.search"),
    "operators.pipeline" -> Seq("quality.score", "neardedup.minhashcandidates",
      "neardedup.minhashneardups", "engine.dropneardups"))

  /** Every measure of every boundary (zero where the workload never
    * calls it), plus the window's Spark totals. Ratios a workload
    * computes itself ([[Workload.layerExtras]]) override the zeros.
    */
  def metrics(tracer: Tracer, wallS: Double, cores: Int, gcS: Double): Map[String, Double] = {
    val rolled = Tracer.rollup(tracer.recorded).map(b => b.name -> b).toMap
    val perBoundary = boundaries.flatMap(_._2).flatMap { n =>
      val b = rolled.get(n)
      def v(f: Tracer.Boundary => Double) = b.fold(0.0)(f)
      Seq(
        s"$n.calls" -> v(_.calls.toDouble),
        s"$n.jobs" -> v(_.work.jobs.toDouble),
        s"$n.shuffle_bytes" -> v(_.work.shuffleBytes.toDouble),
        s"$n.written_bytes" -> v(_.writtenBytes.toDouble),
        s"$n.files_written" -> v(_.filesWritten.toDouble),
        s"$n.read_bytes" -> v(_.work.inputBytes.toDouble),
        s"$n.rows_read_per_hit" -> v(x => if (x.hits == 0) 0.0 else x.work.inputRecords.toDouble / x.hits),
        s"$n.compactions" -> v(_.compactions.toDouble))
    }
    val t = tracer.total
    val busy = t.taskRunMs / 1e3
    perBoundary.toMap ++ Map(
      "spark.jobs" -> t.jobs.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.task_busy_s" -> busy,
      "spark.core_util" -> busy / (cores * wallS),
      "spark.shuffle_bytes" -> t.shuffleBytes.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble,
      "spark.gc_s" -> gcS,
      "neardedup.verify_yield" -> 0.0)
  }

  /** One line per called boundary: calls, self time and Spark work. */
  def print(tracer: Tracer): Unit = {
    val layerOf = boundaries.flatMap { case (l, bs) => bs.map(_ -> l) }.toMap
    Tracer.rollup(tracer.recorded).foreach { b =>
      println(f"layer ${layerOf.getOrElse(b.name, "bench")}%-18s ${b.name}%-28s " +
        f"calls=${b.calls}%-5d busy_s=${b.selfS}%9.4f jobs=${b.work.jobs}%-5d " +
        f"tasks=${b.work.tasks}%-6d shuffle_b=${b.work.shuffleBytes}%-10d " +
        f"read_b=${b.work.inputBytes}%-10d files=${b.filesWritten}%-5d " +
        f"written_b=${b.writtenBytes}%-10d compactions=${b.compactions}")
    }
    val u = tracer.unattributedWork
    println(s"layer unattributed jobs=${u.jobs} tasks=${u.tasks}")
  }

  /** The recorded spans, one per line; times in ns from the window start. */
  def writeSpans(tracer: Tracer, path: String): Unit = {
    val w = new PrintWriter(path)
    try {
      w.println("id\tparent\top\tname\tstart_ns\tend_ns\tjobs\tstages\ttasks")
      tracer.recorded.foreach { s =>
        w.println(Seq(s.id, s.parent, s.op, s.name, s.start - tracer.origin,
          s.end - tracer.origin, s.work.jobs, s.work.stages, s.work.tasks).mkString("\t"))
      }
    } finally w.close()
  }
}
