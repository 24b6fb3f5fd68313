package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.io.File
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** JSON for the run's reports and for the files the benchmark reads. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new File(path))
}

/** The metrics the benchmark declares in BENCHMARK.json (path in the
  * system property `perfbench.spec`): every run reports exactly these. */
object Spec {
  private lazy val root = Json.read(sys.props.getOrElse("perfbench.spec", "BENCHMARK.json"))

  /** name -> unit of the metrics of `section` (`end_to_end` or
    * `per_layer`), in declaration order. */
  def metrics(section: String): ListMap[String, String] =
    ListMap(root.path(section).elements().asScala.toSeq.map(m =>
      m.get("name").asText() -> m.get("unit").asText()): _*)
}

/** Recorded outputs of `CorpusMain.run`, per `nDocs`, from the benchmark's
  * `goldens.json` (path in the system property `perfbench.goldens`). */
object Goldens {
  private lazy val root = Json.read(sys.props.getOrElse("perfbench.goldens", "perfbench/goldens.json"))

  def corpus(nDocs: Long): Option[Map[String, String]] =
    Option(root.path("daily_increment").get(nDocs.toString)).map(
      _.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
}
