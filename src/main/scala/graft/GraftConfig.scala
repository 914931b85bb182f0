package graft

/** Typed job configuration — the reference's YAML config surface
  * (reference: mvt/config.py:3-4, consumed across run_mvt_espre.py:112-144)
  * as a typed case class; both YAML (reference format) and JSON parse via
  * the jackson jars that ship with Spark.
  */
final case class GraftConfig(
    outDir: String = "/tmp/graft-tiles",
    nPages: Long = 20000L,
    zooms: Seq[Int] = Seq(4, 8, 12),
    tileCap: Int = 4096,
    s2Level: Int = 16,
    hexRes: Int = 8,
    seed: Long = graft.sources.SynthPages.DefaultSeed,
    resume: Boolean = false,
    materializePages: Boolean = false)

object GraftConfig {
  import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
  import com.fasterxml.jackson.module.scala.DefaultScalaModule

  private[graft] lazy val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  private lazy val yamlMapper = {
    val m = new ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def fromJson(json: String): GraftConfig =
    mapper.readValue(json, classOf[GraftConfig])

  def fromYaml(yaml: String): GraftConfig =
    yamlMapper.readValue(yaml, classOf[GraftConfig])

  def fromFile(path: String): GraftConfig = {
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    if (path.endsWith(".yaml") || path.endsWith(".yml")) fromYaml(content)
    else fromJson(content)
  }
}
