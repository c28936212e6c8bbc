package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side transpose as a pure function: no Spark session. */
class GridSpec extends AnyFunSuite {

  private def grid(rows: Seq[String]*): Grid.Cells = rows.map(_.toVector).toVector

  test("headered: the first column names the outputs, one row per patient column") {
    assert(Grid.transpose(grid(Seq("id", "P1", "P2"), Seq("sex", "m", "f")), hasHeaders = true) ==
      (Vector("id", "sex"), grid(Seq("P1", "m"), Seq("P2", "f"))))
  }

  test("headerless: every column becomes a row, named by row index") {
    assert(Grid.transpose(grid(Seq("P1", "P2"), Seq("m", "f"), Seq("x", "y")), hasHeaders = false) ==
      (Vector("0", "1", "2"), grid(Seq("P1", "m", "x"), Seq("P2", "f", "y"))))
  }

  test("a blank field cell is named \"null\"") {
    assert(Grid.transpose(grid(Seq("id", "P1"), Seq(null, "x")), hasHeaders = true)._1 ==
      Vector("id", "null"))
  }

  test("ragged rows are padded with null") {
    assert(Grid.transpose(grid(Seq("id", "P1", "P2"), Seq("sex", "m")), hasHeaders = true) ==
      (Vector("id", "sex"), grid(Seq("P1", "m"), Seq("P2", null))))
  }
}
