package graft

import graft.ingest.{AmazonIngest, ConsumeJob, ProduceJob}

/** Engine CLI mirroring the reference launcher's command surface
  * (reference: bin/lakehouse-test:115-122 dispatch; flag names from
  * PerformanceProducer.java:26-69 / PerformanceConsumer.java:35-66):
  *
  *   graft.Main produce        [-t topics] [-r rate] [-m messages]
  *                             [-time seconds] [-z codec] [--root dir] <topicPrefix>
  *   graft.Main consume        [--root dir] <topicPrefix>
  *   graft.Main produce_amazon -f file [--root dir] [-z codec] <topicPrefix>
  *
  * `-time > 0` selects the rate-limited streaming path (A4/A5);
  * otherwise a bounded batch of `-m` rows is produced. Positive-number
  * validation mirrors PositiveNumberParameterValidator.java:27-31. */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val (flags, positional) = parseFlags(args.tail.toList)
    def flag(k: String, default: String): String = flags.getOrElse(k, default)
    def positiveLong(k: String, default: Long): Long = {
      val v = flags.get(k).map(_.toLong).getOrElse(default)
      require(v > 0, s"Parameter $k should be a positive number")
      v
    }
    val root = flag("--root", "/tmp/graft/topics")
    val prefix = positional.headOption.getOrElse {
      System.err.println("missing <topicPrefix>"); usage(); sys.exit(2)
    }
    val spark = GraftSession.local()
    try {
      val report = cmd match {
        case "produce" =>
          val topics = positiveLong("-t", 1).toInt
          val codec = flag("-z", "none").toLowerCase
          val timeSec = flags.get("-time").map(_.toLong).getOrElse(0L)
          if (timeSec > 0)
            ProduceJob.produceStream(spark, root, prefix, topics,
              msgRate = positiveLong("-r", 100).toInt, testTimeMs = timeSec * 1000, codec = codec)
          else
            ProduceJob.produceBatch(spark, root, prefix, topics,
              numMessages = positiveLong("-m", 100000), codec = codec)
        case "consume" =>
          ConsumeJob.consume(spark, root, prefix)
        case "consume_no_admin" => // plain sequential scan, no watermark gate
          s"total=${ConsumeJob.consumeForeachBatch(spark, root, prefix)}"
        case "produce_amazon" =>
          val file = flags.getOrElse("-f", sys.error("produce_amazon requires -f <file>"))
          AmazonIngest.ingest(spark, file, root, prefix, flag("-z", "none").toLowerCase)
        case other =>
          usage(); sys.error(s"unknown command: $other")
      }
      println(report)
    } finally spark.stop()
  }

  private def parseFlags(args: List[String]): (Map[String, String], List[String]) =
    args match {
      case Nil => (Map.empty, Nil)
      case k :: v :: rest if k.startsWith("-") =>
        val (m, p) = parseFlags(rest); (m + (k -> v), p)
      case p :: rest =>
        val (m, ps) = parseFlags(rest); (m, p :: ps)
    }

  private def usage(): Unit = System.err.println(
    """usage: graft.Main <produce|consume|consume_no_admin|produce_amazon> [flags] <topicPrefix>
      |  produce:          -t <topics> -r <rate> -m <messages> -time <seconds> -z <codec> --root <dir>
      |  consume:          --root <dir>   (offload-watermark gated)
      |  consume_no_admin: --root <dir>   (plain sequential scan)
      |  produce_amazon:   -f <file> -z <codec> --root <dir>""".stripMargin)
}
