package graft

/** `Profile` on the shared session: a declared row that reads an
  * artifact and a `*_raw` row, each filed under its own job group with
  * every layer field, its plan counts, the artifact's hit and the scale
  * fit. */
class ProfileSpec extends SparkSpec {

  private val fields = Seq("wall_s", "queries.construct_s",
    "catalyst.optimize_s", "catalyst.plan_s", "catalyst.scans",
    "catalyst.exchanges", "catalyst.reused_exchanges", "scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "scheduler.task_deserialize_s",
    "executor.run_s", "executor.cpu_s", "io.input_mb", "shuffle.write_mb",
    "shuffle.read_mb")

  test("profiles a declared artifact row and a raw row, each by its job group") {
    val listener = new Profile.GroupListener
    spark.sparkContext.addSparkListener(listener)
    val names = Seq("sketch_cms", "sketch_cms_raw")
    val inventory = SparkEntry.queries ++ RawBuilds.map
    val profiles = try
      Profile.run(spark, listener, names.map(n => n -> inventory(n)),
        Seq(sf(), sf("sf0.01")))
    finally spark.sparkContext.removeSparkListener(listener)

    assert(profiles.map(_.name) == names)
    for (p <- profiles; (dir, res) <- p.reps) {
      val rep = res.fold(e => fail(s"${p.name} at $dir threw: $e"), identity)
      assert(fields.forall(rep.metrics.contains),
        s"${p.name} at $dir lacks ${fields.filterNot(rep.metrics.contains)}")
      assert(rep.metrics("catalyst.scans") >= 1, s"${p.name} at $dir")
      assert(rep.metrics("scheduler.jobs") >= 1 && rep.metrics("scheduler.tasks") >= 1,
        s"${p.name} at $dir")
      assert(rep.plan.contains("Final Plan") && rep.plan.contains("Initial Plan"),
        s"${p.name} at $dir printed no adaptive plan:\n${rep.plan}")
    }
    assert(profiles.forall(_.fit.keys.toSeq == Seq("a_s", "b_s_per_sf", "ratio_sf0.01_sf0.001")))

    // each rep's jobs are its own: the groups' job ids follow the run
    // order without interleaving, and the measured group's count is the
    // one reported
    val groups = for (n <- names; d <- Seq("sf0.001", "sf0.01"); g <- Seq(":untimed", ""))
      yield listener.jobIds(s"profile:$n:$d$g")
    assert(groups.forall(_.nonEmpty))
    groups.sliding(2).foreach { case Seq(a, b) => assert(a.max < b.min, s"$a then $b") }
    for (p <- profiles; (dir, res) <- p.reps)
      assert(res.toOption.get.metrics("scheduler.jobs") ==
        listener.jobIds(s"profile:${p.name}:$dir").size)

    // the declared row reads the memoized build: its second read is a hit
    val declared = profiles.head.reps.map(_._2.toOption.get.artifacts)
    assert(declared.forall(_.get("sketch_cms").exists(_("hits") >= 1)),
      s"sketch_cms reads: $declared")
    // the raw row builds without reading the memo
    assert(profiles(1).reps.forall(!_._2.toOption.get.artifacts.contains("sketch_cms")))

    val json = Profile.toJson(profiles)
    assert((fields :+ "fit" :+ "artifacts").forall(f => json.contains("\"" + f + "\"")))
  }
}
