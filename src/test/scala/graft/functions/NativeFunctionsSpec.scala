package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.SparkSpec

object NativeFunctionsSpec {

  /** Every native-function family: its name, its `register` and its
    * `builders` list. */
  val families: Seq[(String, SparkSession => Unit,
      Seq[(String, Seq[Expression] => Expression)])] = Seq(
    ("BloomExprs", BloomExprs.register, BloomExprs.builders),
    ("VectorExprs", VectorExprs.register, VectorExprs.builders),
    ("TextHashExprs", TextHashExprs.register, TextHashExprs.builders),
    ("DecimalExprs", DecimalExprs.register, DecimalExprs.builders),
    ("ImageExprs", ImageExprs.register, ImageExprs.builders),
    ("StringExprs", StringExprs.register, StringExprs.builders),
    ("KllAgg", KllAgg.register, KllAgg.builders),
    ("FreqAgg", FreqAgg.register, FreqAgg.builders),
    ("TopKAgg", TopKAgg.register, TopKAgg.builders))
}

/** Pins [[NativeFunctions.install]] as the one registry write for the
  * engine's native functions, and its check-before-install: ops call
  * `register` on every use, so a replacing install would rewrite the
  * registry (and log a warning) per call. */
class NativeFunctionsSpec extends SparkSpec {

  test("a second register keeps each family's first registry entry") {
    val registry = spark.sessionState.functionRegistry
    for ((family, register, builders) <- NativeFunctionsSpec.families) {
      val ids = builders.map { case (name, _) => FunctionIdentifier(name) }
      register(spark)
      val first = ids.map(registry.lookupFunction)
      register(spark)
      ids.zip(first).foreach { case (id, info) =>
        assert(info.isDefined, s"$family.register did not install $id")
        assert(registry.lookupFunction(id).exists(_ eq info.get),
          s"a second $family.register replaced $id")
      }
    }
  }

  test("createOrReplaceTempFunction appears only in NativeFunctions") {
    val main = Paths.get("src/main/scala/graft")
    val walk = Files.walk(main)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "NativeFunctions.scala")
        .filter(p => new String(Files.readAllBytes(p), "UTF-8")
          .contains("createOrReplaceTempFunction"))
        .map(_.toString).toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"install native functions with NativeFunctions.install: $offenders")
  }
}
