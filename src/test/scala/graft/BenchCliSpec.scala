package graft

/** The measurement runner's command line and output shapes: a bad
  * command is a usage error (Left), never a stack trace, and every mode
  * prints the line its callers parse.
  */
class BenchCliSpec extends SparkSpec {
  private def names(args: String*) = Bench.parse(args, sfDir).map(_.entries.map(_._1))

  test("no arguments: the whole suite, sorted") {
    val cmd = Bench.parse(Nil, sfDir).toOption.get
    assert(cmd.mode == "suite" && cmd.sfDir == sfDir)
    assert(cmd.entries.map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
  }

  test("query lists take full names and prefixes") {
    assert(names("subset", "d", "q02_filter_project,q01") ==
      Right(Seq("q01_pricing_summary", "q02_filter_project")))
    assert(names("plan", "d", " q42 ") ==
      Right(Seq("q42_embedding_neardup", "q42b_embedding_neardup_near")))
    Seq("phases", "stages").foreach(m => assert(names(m, "d", "q01").isRight))
  }

  test("an unknown name or a prefix matching nothing is a usage error") {
    val err = Bench.parse(Seq("subset", "d", "q01,q999,nope"), sfDir).left.toOption.get
    assert(err.contains("q999,nope"))
    assert(Bench.parse(Seq("subset", "d", ","), sfDir).isLeft)
    assert(Verify.parse(Seq("s", "o", "q999")).isLeft)
  }

  test("probe parameters must be positive integers") {
    assert(names("probe", "bitext", "d", "8", "16", "4") ==
      Right(Seq("bitext_k8_nlist16_nprobe4")))
    assert(names("probe", "hardneg", "d", "8", "16", "4").isRight)
    Seq(Seq("x", "16", "4"), Seq("8", "1.5", "4"), Seq("8", "16", "0"))
      .foreach(g => assert(Bench.parse(Seq("probe", "bitext", "d") ++ g, sfDir).isLeft, g))
    assert(Bench.parse(Seq("probe", "ivf", "d", "8", "16", "4"), sfDir).isLeft)
  }

  test("the wrong number of arguments is a usage error") {
    Seq(Seq("subset"), Seq("subset", "d"), Seq("subset", "d", "q01", "x"),
        Seq("probe", "bitext", "d", "8", "16"), Seq("bogus", "d", "q01"))
      .foreach(a => assert(Bench.parse(a, sfDir).isLeft, a))
    assert(Verify.parse(Seq("s")).isLeft)
    assert(Verify.parse(Seq("s", "o", "q01", "x")).isLeft)
    assert(Verify.parse(Seq("s", "o")).map(_._3.size) == Right(SparkEntry.queries.size))
  }

  test("ScaleData: the wrong argument count or a bad copies value is a usage error") {
    import graft.tools.ScaleData
    assert(ScaleData.parse(Seq("src", "dst", "10")) == Right(("src", "dst", 10)))
    Seq(Nil, Seq("src", "dst"), Seq("src", "dst", "10", "x"))
      .foreach(a => assert(ScaleData.parse(a).isLeft, a))
    Seq("0", "-3", "ten", "1.5", "", "100000")
      .foreach(c => assert(ScaleData.parse(Seq("src", "dst", c)).isLeft, c))
  }

  test("subset prints one JSON line of per-query seconds") {
    val cmd = Bench.parse(Seq("subset", sfDir, "q01_,q02_"), sfDir).toOption.get
    val Seq(line) = Bench.execute(new Bench.Runner(spark, sfDir), cmd)
    val sec = """\d+\.\d{3}"""
    assert(line.matches(s"""\\{"sf":"$sfDir","queries":\\{"q01_pricing_summary":$sec,""" +
      s""""q02_filter_project":$sec\\}\\}"""), line)
  }

  test("phases splits build, plan and execute; plan prints the final plan") {
    val session = spark.newSession() // keeps the write listener off the shared session
    val runner = new Bench.Runner(session, sfDir)
    val Seq(line) = Bench.execute(runner,
      Bench.parse(Seq("phases", sfDir, "q05_"), sfDir).toOption.get)
    val sec = """\d+\.\d{3}"""
    assert(line.matches(s""".*"q05_local_supplier":\\{"build":$sec,"plan":$sec,"exec":$sec\\}.*"""), line)
    val Seq(plan) = Bench.execute(runner, Bench.parse(Seq("plan", sfDir, "q05_"), sfDir).toOption.get)
    assert(plan.contains("q05_local_supplier") && plan.contains("isFinalPlan=true"), plan)
  }

  test("the runner's drop keeps RDDs persisted before it started") {
    val mine = spark.sparkContext.parallelize(1 to 10).persist()
    val runner = new Bench.Runner(spark, sfDir)
    val its = spark.sparkContext.parallelize(1 to 10).persist()
    try {
      runner.drop()
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      assert(persisted(mine.id) && !persisted(its.id))
    } finally mine.unpersist()
  }

  test("the python dev tools print their usage and exit 2 on a bad argument count") {
    import scala.sys.process._
    for ((tool, args) <- Seq("tools/validate.py" -> Seq(Nil, Seq("d")),
        "tools/duck_bench.py" -> Seq(Nil, Seq("d"), Seq("a", "b", "c", "d", "e")));
        a <- args) {
      val err = new StringBuilder
      val code = (Seq("python3", tool) ++ a).!(ProcessLogger(_ => (), l => err.append(l)))
      assert(code == 2 && err.toString.startsWith("usage: "), s"$tool $a: exit $code, $err")
    }
  }
}
