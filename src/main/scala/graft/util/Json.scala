package graft.util

import com.fasterxml.jackson.core.StreamReadFeature
import com.fasterxml.jackson.core.json.{JsonReadFeature, JsonWriteFeature}
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one JSON codec: snapshot-table manifests and checkpoints, the
  * change-feed checkpoint files, QueryServe requests and errors, and
  * the JSON the mains print. A configured `ObjectMapper` is
  * thread-safe, so every caller shares this instance. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    // manifests written by the earlier hand-rolled writer carry raw
    // control characters inside strings; they must keep replaying
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    // `{"station":"A","station":"B"}` must not resolve last-wins
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    // a reader skips fields a newer writer added
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    // non-BMP characters as raw 4-byte UTF-8, the bytes the earlier
    // writer produced, not as surrogate-pair escapes
    .enable(JsonWriteFeature.COMBINE_UNICODE_SURROGATES_IN_UTF8)
    .build()

  /** Decode the JSON file at `p`. */
  def read[T](fs: FileSystem, p: Path, cls: Class[T]): T = {
    val in: java.io.InputStream = fs.open(p)
    try mapper.readValue(in, cls) finally in.close()
  }

  /** Encode `value` into the file at `p`, replacing it. */
  def write(fs: FileSystem, p: Path, value: AnyRef): Unit = {
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsBytes(value)) finally out.close()
  }
}
