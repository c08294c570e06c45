package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/**
 * Per-layer metrics of a traced run. Every traced run prints the same
 * names; a layer the workload does not exercise reads 0. Per op, a
 * counter is the median over its traced executions; a layer's value is
 * the sum of its ops' medians.
 */
object Layers {

  private val ebwKinds = Seq("dense", "bounded", "sparse", "grouped")

  /** A metric value as JSON: all digits, and 0 for a value that could not
   * be measured (NaN or infinite). */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def metrics(ops: Seq[Op],
      walls: LinkedHashMap[String, ArrayBuffer[Double]],
      tracedWalls: LinkedHashMap[String, ArrayBuffer[Double]],
      layers: LinkedHashMap[String, ArrayBuffer[(OpLayers, Run)]],
      probes: LinkedHashMap[String, ArrayBuffer[Double]]): Seq[(String, (Double, String))] = {
    def med(xs: Iterable[Double]): Double =
      if (xs.isEmpty) 0.0 else Main.median(xs.toSeq)
    def ofOp(op: String, f: (OpLayers, Run) => Double): Double =
      med(layers.getOrElse(op, Nil).map { case (l, r) => f(l, r) })
    def ofGroup(group: String, f: (OpLayers, Run) => Double): Double =
      ops.filter(_.group == group).map(o => ofOp(o.name, f)).sum
    def wall(group: String): Double =
      ops.filter(_.group == group).map(o => med(tracedWalls.getOrElse(o.name, Nil))).sum
    val out = ArrayBuffer.empty[(String, (Double, String))]
    def put(name: String, v: Double, unit: String): Unit = out += name -> (v, unit)

    for (k <- ebwKinds) {
      val g = s"ebw.$k"
      put(s"$g.solve_s", wall(g), "s")
      put(s"$g.jobs", ofGroup(g, (l, _) => l.jobs), "count")
      put(s"$g.job_s", ofGroup(g, (l, _) => l.jobS), "s")
      put(s"$g.task_s", ofGroup(g, (l, _) => l.taskS), "s")
      put(s"$g.gc_s", ofGroup(g, (l, _) => l.gcS), "s")
      put(s"$g.driver_s", ofGroup(g, (l, _) => l.driverS), "s")
      put(s"$g.result_mb", ofGroup(g, (l, _) => l.resultMb), "MB")
      put(s"$g.shuffle_mb", ofGroup(g, (l, _) => l.shuffleMb), "MB")
      if (k != "grouped") put(s"$g.steps", ofGroup(g, (_, r) => r.steps), "count")
    }
    for (k <- Seq("dense", "sparse"))
      put(s"ebw.$k.evaluate_s",
        ops.filter(_.group == s"ebw.$k").map(o => med(probes.getOrElse(o.name, Nil))).sum, "s")

    put("pipeline.apply.wall_s", wall("pipeline.apply"), "s")
    put("pipeline.apply.task_s", ofGroup("pipeline.apply", (l, _) => l.taskS), "s")
    put("pipeline.apply.jobs", ofGroup("pipeline.apply", (l, _) => l.jobs), "count")

    for (gate <- Workloads.heavy) {
      val g = s"ops.$gate"
      put(s"$g.wall_s", wall(g), "s")
      put(s"$g.task_s", ofGroup(g, (l, _) => l.taskS), "s")
      put(s"$g.shuffle_mb", ofGroup(g, (l, _) => l.shuffleMb), "MB")
      put(s"$g.spill_mb", ofGroup(g, (l, _) => l.spillMb), "MB")
      put(s"$g.jobs", ofGroup(g, (l, _) => l.jobs), "count")
      val all = walls.getOrElse(gate, Nil) ++ tracedWalls.getOrElse(gate, Nil)
      val c = med(probes.getOrElse(gate, Nil))
      put(s"$g.consume_over_count", if (c > 0) med(all) / c else 0.0, "ratio")
    }

    val q = "queries.short"
    put(s"$q.build_s", ofGroup(q, (_, r) => r.buildS), "s")
    put(s"$q.plan_ms", ofGroup(q, (l, _) => l.planMs), "ms")
    put(s"$q.plan_nodes", ofGroup(q, (l, _) => l.planNodes), "count")
    put(s"$q.jobs", ofGroup(q, (l, _) => l.jobs), "count")
    put(s"$q.stages", ofGroup(q, (l, _) => l.stages), "count")
    put(s"$q.tasks", ofGroup(q, (l, _) => l.tasks), "count")
    put(s"$q.task_s", ofGroup(q, (l, _) => l.taskS), "s")
    put(s"$q.driver_s", ofGroup(q, (l, _) => l.driverS), "s")

    // Tracing overhead: traced against untraced medians of the same ops.
    val both = ops.map(_.name).filter(n => walls.contains(n) && tracedWalls.contains(n))
    val untraced = both.map(n => med(walls(n))).sum
    val traced = both.map(n => med(tracedWalls(n))).sum
    put("trace.overhead_frac", if (untraced > 0) traced / untraced - 1 else 0.0, "frac")
    out.toSeq
  }
}
