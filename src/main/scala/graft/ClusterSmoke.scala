package graft

/** Off-local smoke: run every registered gate once under
  * `local-cluster[4,8,4096]` — four REAL executor JVMs, so task/plan
  * serialization, codegen reference objects (the literal sign matrices
  * and codebooks carried via `addReferenceObj`), broadcasts, and
  * shuffle I/O all cross process boundaries the way they would on a
  * real cluster. `local[32]` hides every one of those failure modes
  * (everything stays in one JVM, nothing serializes).
  *
  * Each gate is forced end-to-end with `toRdd.count()` (full execution,
  * not just planning) and recorded pass/fail; correctness stays the
  * DuckDB oracle's job at local[32] — this artifact answers only "does
  * anything break OFF-local". Requires SPARK_HOME (the executor JVMs
  * launch from the distribution) and ships the compiled classes to
  * executors via extraClassPath.
  *
  * Usage (bare java, the run_verify.sh classpath — repo jar plus the
  * spark jars-dir glob):
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 java <add-opens> \
  *     -cp "target/scala-2.13/<jar>:<spark jars glob>" \
  *     graft.ClusterSmoke /root/testdata/sf0.01 SMOKE_CLUSTER.json
  * SPARK_SCALA_VERSION matters: the Worker builds each executor command
  * in-process via Spark's launcher, whose getScalaVersion() only infers
  * the version from source-build directories ($SPARK_HOME/launcher/
  * target/scala-*) that a binary distribution lacks — the shell scripts
  * normally export it from load-spark-env.sh, which this in-JVM path
  * never runs. Without it every executor dies with "Cannot find any
  * build directories."
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "SMOKE_CLUSTER.json"
    val only: Set[String] = args.drop(2).toSet // optional re-run subset
    // the graft classes dir, resolved from this class itself — the
    // executor JVMs only get the distribution's jars by default
    val classesDir = getClass.getProtectionDomain.getCodeSource
      .getLocation.getPath
    val spark = Harness.session(conf = Map(
      "spark.master" -> "local-cluster[4,8,4096]",
      "spark.executor.memory" -> "3g",
      "spark.executor.extraClassPath" -> classesDir))
    // src05's JDBC endpoint is embedded Derby — a documented single-JVM
    // stand-in (Spark's JDBC paths need concurrent driver metadata +
    // executor data connections, i.e. a database SERVER, which the
    // sandbox lacks). Its plan is Spark's own JDBCRelation/JdbcUtils;
    // nothing graft-side rides it. PROBE, don't assume: if Derby's
    // network server (derbynet's NetworkServerControl) and ClientDriver
    // are on the classpath, start the server in-process and point src05
    // at jdbc:derby://localhost — executor JVMs then open real network
    // data connections and the gate runs multi-JVM. This sandbox ships
    // only derby/derbyshared/derbytools (no derbynet/derbyclient under
    // /opt/spark/jars or the offline coursier cache), so the probe
    // records the skip with its evidence instead of hardcoding it.
    val derbyNetPort = 15270
    val derbyNet: Option[AnyRef] =
      try {
        val cls = Class.forName("org.apache.derby.drda.NetworkServerControl")
        Class.forName("org.apache.derby.jdbc.ClientDriver")
        val srv = cls
          .getConstructor(classOf[java.net.InetAddress], classOf[Int])
          .newInstance(java.net.InetAddress.getLoopbackAddress,
            Integer.valueOf(derbyNetPort))
          .asInstanceOf[AnyRef]
        cls.getMethod("start", classOf[java.io.PrintWriter])
          .invoke(srv, null)
        // start() is ASYNCHRONOUS: a bind/boot failure (port already
        // in use, security policy) surfaces on the server's daemon
        // thread after start() returns — ping until the server answers
        // before advertising the multi-JVM path, else src05 would fail
        // against an unreachable URL instead of recording the skip
        val ping = cls.getMethod("ping")
        var pinged = false
        var tries = 0
        // NonFatal only: an interrupt must stop the retry loop with the
        // flag restored, not spin the remaining budget with it
        // swallowed. ping is reflective, so an InterruptedException
        // thrown INSIDE it arrives wrapped in InvocationTargetException
        // — unwrap before classifying, or the interrupt would be
        // consumed as a NonFatal retry.
        while (!pinged && tries < 25 && !Thread.currentThread().isInterrupted) {
          try { ping.invoke(srv); pinged = true }
          catch {
            case e: java.lang.reflect.InvocationTargetException
                if e.getCause.isInstanceOf[InterruptedException] =>
              Thread.currentThread().interrupt()
            case _: InterruptedException =>
              Thread.currentThread().interrupt()
            case scala.util.control.NonFatal(_) =>
              tries += 1
              try Thread.sleep(200)
              catch { case _: InterruptedException =>
                Thread.currentThread().interrupt() }
          }
        }
        if (pinged) Some(srv) else None
      } catch { case _: Throwable => None }
    derbyNet.foreach { _ =>
      val dbDir = java.nio.file.Files.createTempDirectory("graft-derby-net")
      spark.conf.set("spark.graft.src05.url",
        s"jdbc:derby://localhost:$derbyNetPort/$dbDir/db;create=true")
      spark.conf.set("spark.graft.src05.driver",
        "org.apache.derby.jdbc.ClientDriver")
      println(s"[smoke] derby network server up on :$derbyNetPort — " +
        "src05 runs multi-JVM")
    }
    val singleJvmStandIn: Map[String, String] =
      if (derbyNet.isDefined) Map.empty
      else Map(
        "src05_jdbc_roundtrip" ->
          ("skipped: no network JDBC server available (derbynet/" +
           "derbyclient probed absent at runtime; embedded Derby is " +
           "single-JVM by design)"))
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val status =
        try {
          if (singleJvmStandIn.contains(name)) singleJvmStandIn(name)
          else {
            fn(spark, sfDir).queryExecution.toRdd.count()
            "ok"
          }
        } catch {
          case e: Throwable =>
            val root = Iterator.iterate(e)(_.getCause)
              .takeWhile(_ != null).toSeq.last
            s"FAIL ${root.getClass.getSimpleName}: " +
              String.valueOf(root.getMessage).replace('"', '\'')
                .replace('\n', ' ').take(200)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[smoke] $name%-34s $status ($secs%.1f s)")
      (name, status, secs)
    }
    val failed = results.count(_._2.startsWith("FAIL"))
    // full JSON string escape (the Verify.q convention) — a failure
    // message carrying backslashes or control chars must not make the
    // artifact unparseable exactly when it needs inspecting; Locale.ROOT
    // so comma-decimal default locales can't corrupt the numbers
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val rows = results.map { case (n, s, t) =>
      String.format(java.util.Locale.ROOT,
        """  %s: {"status": %s, "secs": %.1f}""", q(n), q(s), Double.box(t))
    }.mkString("{\n \"master\": \"local-cluster[4,8,4096]\",\n" +
      s""" "sf_dir": ${q(sfDir)},\n "gates": ${results.size},\n""" +
      s""" "failed": $failed,\n "results": {\n""", ",\n", "\n }}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      rows.getBytes("UTF-8"))
    println(s"[smoke] ${results.size} gates, $failed failed -> $out")
    derbyNet.foreach { srv =>
      try srv.getClass.getMethod("shutdown").invoke(srv)
      catch { case _: Throwable => () }
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
