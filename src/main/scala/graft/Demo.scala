package graft

/** Example driver: run a vendor pipeline from the reference's own JSON
  * config shape (examples/configExample-*.json) via [[ConfigParser]] — a
  * toMixpanel user's config runs as-is, with options.path pointing at
  * staged data and a `local` destination for a file run.
  *
  *   runMain graft.Demo <config.json>
  */
object Demo {
  def main(args: Array[String]): Unit = {
    if (args.length != 1) sys.error("usage: Demo <config.json>")
    val config = args(0)
    val spark = Harness.session()
    val report = Pipeline.run(spark, ConfigParser.parseFile(config))
    println(s"DEMO_REPORT config=$config events=${report.events} " +
      s"profiles=${report.profiles} merges=${report.merges}")
    spark.stop()
  }
}
