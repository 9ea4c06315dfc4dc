package graft

import org.apache.spark.sql.SparkSession

/** Counters the specs wrap around a body: Spark jobs launched, and reads
  * that Spark logged as rooted at a hidden directory.
  */
object TestProbes {

  /** Spark jobs started while `body` ran (the listener bus drained before
    * counting). */
  def jobsRunning(spark: SparkSession)(body: => Unit): Int = {
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counted.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      counted.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `WARN DataSource: All paths were ignored` lines logged while `body`
    * ran: the warning Spark gives a read rooted at a hidden (`.`/`_`)
    * directory. A log4j2 appender is attached to the DataSource logger at
    * WARN, after one warm-up hidden-root read (Spark swaps in its default
    * logging configuration on first use, which would drop an appender
    * attached earlier), and a second such read checks that the probe
    * sees the warning.
    */
  def ignoredRootReads(spark: SparkSession)(body: => Unit): Int = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.LoggerConfig
    import spark.implicits._
    val ignored = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new AbstractAppender("ignored-root-probe", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage
            .contains("All paths were ignored")) ignored.incrementAndGet()
    }
    probe.start()
    def hiddenRootRead(): Unit = {
      val d = java.nio.file.Files.createTempDirectory("ignored_probe")
        .resolve(".h").toString
      Seq(1L).toDF("x").write.parquet(d)
      require(spark.read.parquet(d).count() == 1L)
    }
    hiddenRootRead()
    val name = "org.apache.spark.sql.execution.datasources.DataSource"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addAppender(probe, null, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
    try {
      hiddenRootRead()
      require(ignored.getAndSet(0) == 1, "the probe must see the warning")
      body
      ignored.get()
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      probe.stop()
    }
  }
}
