package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins every defaulted parameter of the operator, streaming, functions
  * and sources objects, and of `Pipeline` and `Tables`, to
  * `operator_defaults.tsv` (object, method, parameter; one line each).
  * A parameter exists only where callers pass different values; a new
  * default is a new knob, so adding one means editing the file on
  * purpose, the way `oracle_digests.tsv` pins the oracles. */
class OperatorDefaultsSpec extends AnyFunSuite {

  private val packages =
    Seq("graft/operators", "graft/streaming", "graft/functions", "graft/sources")

  /** The objects' module classes, read off the compiled class files. */
  private def objects: Seq[Class[_]] = {
    val loader = getClass.getClassLoader
    val inPackages = for {
      pkg <- packages
      url <- loader.getResources(pkg).asScala.toSeq
      file <- Option(new File(url.toURI).listFiles()).toSeq.flatten
      name = file.getName
      if name.endsWith("$.class") && !name.contains("$$")
    } yield pkg.replace('/', '.') + "." + name.stripSuffix(".class")
    (inPackages ++ Seq("graft.Pipeline$", "graft.Tables$")).distinct
      .map(Class.forName(_, false, loader))
  }

  /** One `object \t method \t parameter` line per `method$default$N`;
    * a case class's constructor defaults show once, as `<init>` (its
    * companion's `apply` mirrors them). */
  private def defaults: Seq[String] = objects.flatMap { c =>
    val Default = raw"(.+)\$$default\$$(\d+).*".r
    val found = c.getDeclaredMethods.toSeq.map(_.getName).collect {
      case Default(method, n) if !method.startsWith("$anonfun") => (method, n.toInt - 1)
    }
    val ctor = "$lessinit$greater"
    found.filterNot { case (m, i) => m == "apply" && found.contains((ctor, i)) }
      .map { case (method, i) =>
        val params =
          if (method == ctor)
            Class.forName(c.getName.stripSuffix("$"), false, c.getClassLoader)
              .getConstructors.toSeq.map(_.getParameters)
          else c.getDeclaredMethods.toSeq
            .filter(m => m.getName == method && !m.isBridge).map(_.getParameters)
        val name = params.filter(_.length > i).map(_(i).getName).distinct.mkString("|")
        Seq(c.getName.stripSuffix("$"), if (method == ctor) "<init>" else method, name)
          .mkString("\t")
      }
  }.sorted

  test("every defaulted operator parameter is pinned in operator_defaults.tsv") {
    val src = scala.io.Source.fromResource("operator_defaults.tsv")(scala.io.Codec.UTF8)
    val pinned = try src.getLines().filter(_.nonEmpty).toSeq finally src.close()
    val found = defaults
    assert(found.nonEmpty && objects.exists(_.getName == "graft.operators.Stats$"))
    val added = found.filterNot(pinned.toSet)
    assert(added.isEmpty, "defaulted parameters not in operator_defaults.tsv " +
      "(a parameter no two callers set differently is a constant in the " +
      s"body):\n${added.mkString("\n")}")
    val gone = pinned.filterNot(found.toSet)
    assert(gone.isEmpty, "operator_defaults.tsv lists parameters that no " +
      s"longer have a default:\n${gone.mkString("\n")}")
    assert(found.distinct.size == found.size)
  }
}
