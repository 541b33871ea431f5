package graft.gen

import graft.ddl.DdlParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** A failing sink is recorded per table as "<exception class>: <first
  * message line>" — never a bare `null` for a message-less exception —
  * on a two-table catalog parsed from inline DDL; and the pipeline runs
  * no Spark job of its own: only the sink's. */
class GeneratePipelineSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session

  private val ddl =
    """CREATE TABLE [dbo].[Parent](
      |	[Id] [int] NOT NULL,
      |	[Name] [nvarchar](20) NULL,
      | CONSTRAINT [PK_Parent] PRIMARY KEY CLUSTERED
      |(
      |	[Id] ASC
      |)WITH (PAD_INDEX = OFF) ON [PRIMARY]
      |) ON [PRIMARY]
      |GO
      |CREATE TABLE [dbo].[Child](
      |	[Id] [int] NOT NULL,
      |	[ParentId] [int] NULL,
      | CONSTRAINT [PK_Child] PRIMARY KEY CLUSTERED
      |(
      |	[Id] ASC
      |)WITH (PAD_INDEX = OFF) ON [PRIMARY]
      |) ON [PRIMARY]
      |GO
      |ALTER TABLE [dbo].[Child]  WITH CHECK ADD  CONSTRAINT [FK_Child_ParentId] FOREIGN KEY([ParentId])
      |REFERENCES [dbo].[Parent] ([Id])
      |GO
      |""".stripMargin

  test("a message-less sink failure records its exception class, a multi-line one its first line") {
    val cat = DdlParser.parse(ddl)
    assert(cat.order.toSet == Set("Parent", "Child"), s"inline DDL must parse: ${cat.order}")
    val results = GeneratePipeline.run(spark, cat, 5, 7, (t, _) =>
      if (t == "Parent") throw new NullPointerException()
      else throw new IllegalStateException("first line\nsecond line"))
    val byTable = results.map(r => r.table -> r).toMap
    assert(results.forall(!_.ok), s"every sink threw: $results")
    assert(byTable("Parent").error.contains("java.lang.NullPointerException: (no message)"))
    assert(byTable("Child").error.contains("java.lang.IllegalStateException: first line"))
  }

  test("the pipeline starts exactly one Spark job per table: its noop sink's") {
    val cat = GenerationDigestSpec.catalog
    val targets = cat.order.filterNot(GeneratePipeline.skipTable)
    val runs = (1 to 2).map(_ => jobsDuring {
      val results = GeneratePipeline.run(spark, cat, 1500, 7, (_, df) =>
        df.write.format("noop").mode("overwrite").save())
      assert(results.forall(_.ok), results.toString)
    })
    // the minimum: a stray job from another thread can only add
    assert(runs.min == targets.size, s"jobs per run: $runs for ${targets.size} tables")
  }

  /** Spark jobs started between two sentinel jobs around `body`, from any
    * thread (the pipeline's sinks run on a pool). The listener bus
    * delivers in order, so once the end sentinel arrives every job of
    * `body` has been seen. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def sentinel(group: String): Unit = {
      sc.setJobGroup(group, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      sentinel("pipeline_start")
      body
      sentinel("pipeline_end")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("pipeline_end") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("pipeline_end"), "listener never saw the end sentinel")
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.dropWhile(_ != "pipeline_start").drop(1).takeWhile(_ != "pipeline_end").size
    } finally sc.removeSparkListener(listener)
  }
}
