package graft.config

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.model.ContextKind
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Property: the golden and reference-golden configs, each with one
  * mutation, decode or fail with an IllegalArgumentException naming the
  * key or its path — never with an NPE, a MatchError, a
  * ClassCastException or a Spark exception. Each mutated tree is
  * loaded, then its strategies, dictionaries and resolver are built; no
  * Spark job runs. (Raw ScalaCheck generators with fixed seeds, as
  * PropertySpec.)
  */
class ConfigMutationSpec extends AnyFunSuite {
  import ConfigMutationSpec._

  private val F = JsonNodeFactory.instance

  private def fixture(name: String, dirVar: String, outVar: String): ObjectNode = {
    val dir = Paths.get(s"src/test/resources/$name").toAbsolutePath.toString
    val raw = Files.readString(Paths.get(dir, "config.yaml"))
      .replace(dirVar, dir).replace(outVar, Files.createTempDirectory("graft_mut_out").toString)
    new ObjectMapper(new YAMLFactory()).readTree(raw).asInstanceOf[ObjectNode]
  }
  private lazy val fixtures = Seq(
    fixture("golden", "${GOLDEN_DIR}", "${GOLDEN_OUT}"),
    fixture("refgolden", "${REFGOLDEN_DIR}", "${REFGOLDEN_OUT}"))

  private def slots(n: JsonNode, keys: Seq[String]): Seq[Slot] = n match {
    case o: ObjectNode => o.properties.asScala.toSeq.flatMap { e =>
      val s = Slot(o, e.getKey, -1, keys :+ e.getKey)
      s +: slots(e.getValue, s.keys)
    }
    case a: ArrayNode => (0 until a.size).flatMap(i => Slot(a, "", i, keys) +: slots(a.get(i), keys))
    case _ => Nil
  }

  /** One-character typo of `s`: a letter replaced, inserted or dropped. */
  private def typo(s: String, taken: String => Boolean): Gen[String] = for {
    i <- Gen.choose(0, s.length - 1)
    c <- Gen.alphaLowerChar
    op <- Gen.choose(0, 2)
  } yield {
    val t = op match {
      case 0 => s.updated(i, c)
      case 1 => s.patch(i, c.toString, 0)
      case _ => if (s.length > 1) s.patch(i, "", 1) else s + c
    }
    if (t == s || taken(t)) s + "q" else t
  }

  private val required = Set("type", "source", "sheet_name", "identifier", "mappings", "id",
    "output_dir", "class", "assay_id", "unit_ontology_id", "regex", "pipeline", "ontology",
    "data_context_kind")
  private val contextKeys = Set("data_context", "header_context", "data_context_kind")

  private def mutation(tree: ObjectNode): Gen[Mutation] = {
    val all = slots(tree, Nil)
    val keyed = all.filter(s => s.index < 0 && !s.isData)
    def at(s: Slot) = s.keys.mkString(".") + (if (s.index < 0) "" else s"[${s.index}]")
    val typoed = for {
      s <- Gen.oneOf(keyed)
      t <- typo(s.key, s.holder.has)
    } yield Mutation(s"typo ${at(s)} -> $t", () => s.rename(t), Seq(s.key, t), quoted = true)
    val dropped = Gen.oneOf(keyed.filter(s => required(s.key))).map { s =>
      Mutation(s"drop ${at(s)}", () => s.holder.asInstanceOf[ObjectNode].remove(s.key),
        Seq(s.key), quoted = true)
    }
    val swapped = for {
      s <- Gen.oneOf(all.filterNot(_.value.isContainerNode))
      asList <- Gen.oneOf(true, false)
    } yield {
      val v = s.value
      val shape = if (asList) F.arrayNode().add(v) else F.objectNode().set[JsonNode](v.asText, v)
      // only a one-name identifier list decodes: a Multi identifier, on purpose
      Mutation(s"swap ${at(s)} -> $shape", () => s.set(shape), s.keys.lastOption.toSeq :+ v.asText,
        quoted = false, mayDecode = asList && s.index < 0 && s.key == "identifier")
    }
    val known = (name: String) => ContextKind.byName.contains(name)
    val unknownContext = Gen.oneOf(all.filter(s => s.index < 0 && contextKeys(s.key))).flatMap { s =>
      s.value match {
        case o: ObjectNode => // a parameterized context: its one key names it
          val param = slots(o, s.keys).head
          typo(param.key, known).map(t => t -> (() => param.rename(t)))
        case v => typo(v.asText, known).map(t => t -> (() => s.set(F.textNode(t))))
      }
    }.map { case (t, run) =>
      Mutation(s"context -> $t", run, Seq(t), quoted = true, unknownContext = true)
    }
    Gen.oneOf(typoed, dropped, swapped, unknownContext)
  }

  /** Everything config-driven that runs before the first Spark job. */
  private def build(path: String): Unit = {
    val cfg = ConfigLoader.load(path)
    val library = ConfigRunner.buildLibrary(cfg)
    cfg.strategies.foreach(ConfigRunner.strategyFor(_, library))
    ConfigRunner.buildResolver(cfg, library)
  }

  test("property: a config with one mistyped, dropped, misshapen or unknown key decodes or " +
      "fails naming it") {
    val dir = Files.createTempDirectory("graft_mut")
    val json = new ObjectMapper()
    fixtures.zipWithIndex.foreach { case (f, i) =>
      val path = dir.resolve(s"valid$i.json")
      Files.writeString(path, json.writeValueAsString(f))
      build(path.toString) // each fixture builds unmutated
    }
    val cases = (0 until 600).flatMap { seed =>
      val tree = fixtures(seed % fixtures.size).deepCopy()
      mutation(tree).apply(Gen.Parameters.default, Seed(seed.toLong)).map { m => m.run(); m -> tree }
    }
    assert(cases.size >= 500)
    val path = dir.resolve("mutated.json")
    cases.foreach { case (m, tree) =>
      Files.writeString(path, json.writeValueAsString(tree))
      Try(build(path.toString)) match {
        case Success(_) => assert(m.mayDecode, s"${m.what}: decoded")
        case Failure(e: IllegalArgumentException) =>
          val names = if (m.quoted) m.names.map(n => s"'$n'") else m.names.filter(_.nonEmpty)
          assert(names.exists(e.getMessage.contains), s"${m.what}: ${e.getMessage}")
          if (m.unknownContext) assert(e.getMessage.contains("unknown context"), e.getMessage)
        case Failure(e) => fail(s"${m.what}: ${e.getClass.getName}: ${e.getMessage}", e)
      }
    }
    val kinds = cases.map(_._1.what.takeWhile(_ != ' ')).groupBy(identity).map(kv => kv._1 -> kv._2.size)
    assert(kinds.keySet == Set("typo", "drop", "swap", "context"), kinds)
  }
}

object ConfigMutationSpec {
  /** One value of a tree: held under `key` by an object, or at `index`
    * (≥ 0) by a list; `keys` are the object keys from the root to it.
    */
  final case class Slot(holder: JsonNode, key: String, index: Int, keys: Seq[String]) {
    def value: JsonNode = if (index < 0) holder.get(key) else holder.get(index)
    def set(v: JsonNode): Unit = holder match {
      case o: ObjectNode => o.set[JsonNode](key, v)
      case a: ArrayNode  => a.set(index, v)
      case _             => ()
    }
    /** A key of inline `mappings`: data, which the decoder does not read as keys. */
    def isData: Boolean = keys.dropRight(1).lastOption.contains("mappings")
    def rename(to: String): Unit = holder match {
      case o: ObjectNode =>
        // rebuilt in order, so the renamed key keeps its place
        val entries = o.properties.asScala.map(e => e.getKey -> e.getValue).toList
        o.removeAll()
        entries.foreach { case (k, v) => o.set[JsonNode](if (k == key) to else k, v) }
      case _ => ()
    }
  }

  /** A mutation of a tree, not yet applied: what it does, and the
    * names one of which its error must give (quoted when `quoted`). Only
    * a `mayDecode` mutation may also load cleanly.
    */
  final case class Mutation(what: String, run: () => Unit, names: Seq[String],
      quoted: Boolean, mayDecode: Boolean = false, unknownContext: Boolean = false)
}
