package graft.gen

import graft.ddl.DdlParser
import org.scalatest.funsuite.AnyFunSuite

/** A failing sink is recorded per table as "<exception class>: <first
  * message line>" — never a bare `null` for a message-less exception —
  * on a two-table catalog parsed from inline DDL. */
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
}
