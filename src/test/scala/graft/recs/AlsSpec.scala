package graft.recs

import graft.SparkSpec

class AlsSpec extends SparkSpec {

  test("the validation split partitions the input the same at width 1 and 7") {
    import spark.implicits._
    val rows = for (u <- 1 to 40; i <- 1 to 12 if (u * i) % 3 != 0)
      yield (u.toLong, s"i$i")
    val pc = Als.buildPlaycounts(rows.toDF("user_id", "item"),
      "user_id", "item")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("als_user_id", "als_item_id")
        .collect().map(_.toString).sorted.toSeq
    // the envelope's input is a round-robin placement at some width; an
    // explicit repartition keeps that width past AQE's coalescing
    def split(width: Int): (Seq[String], Seq[String]) = {
      val (train, validation) = Als.validationSplit(pc.repartition(width))
      (ids(train), ids(validation))
    }
    val (train, validation) = split(1)
    assert(split(7) == ((train, validation)))
    assert(train.nonEmpty && validation.nonEmpty)
    assert(train.toSet.intersect(validation.toSet).isEmpty)
    assert((train ++ validation).sorted == ids(pc))
  }
}
