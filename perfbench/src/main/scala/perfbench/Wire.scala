package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Requests the benchmark sends over the HTTP face, their JSON bodies,
  * and the client that sends them.
  */
object Wire {
  val K = 10

  sealed trait Req {
    /** Route under the collection path. */
    def route: String
    /** Metric class: query, get, search or write. */
    def cls: String
    def body: String
  }
  final case class Query(q: Array[Float]) extends Req {
    val route = "query"; val cls = "query"
    def body: String = s"""{"query_embeddings":[${vec(q)}],"n_results":$K}"""
  }
  final case class GetWhere(cat: String, yearMin: Int, limit: Int,
      flag: Option[Boolean] = None) extends Req {
    val route = "get"; val cls = "get"
    def body: String =
      s"""{"where":{"$$and":[{"cat":"$cat"},{"year":{"$$gte":$yearMin}}""" +
        flag.map(f => s""",{"flag":$f}""").getOrElse("") + s"""]},"limit":$limit}"""
  }
  final case class GetIds(ids: Seq[String]) extends Req {
    val route = "get"; val cls = "get"
    def body: String = s"""{"ids":${strs(ids)}}"""
  }
  final case class Search(q: Array[Float], perCat: Int, limit: Int) extends Req {
    val route = "search"; val cls = "search"
    def body: String =
      s"""{"filter":{"flag":true},"rank":{"$$knn":{"query":${vec(q)},"limit":50}},""" +
        s""""group_by":{"keys":["cat"],"aggregate":{"$$min_k":{"keys":["#score"],"k":$perCat}}},""" +
        s""""limit":{"offset":0,"limit":$limit},"select":{"keys":["#score","#document","#metadata"]}}"""
  }
  /** A /get whose filter names every metadata key the mix filters on. */
  val Warm: GetWhere = GetWhere("c0", Gen.YearLo, 10, Some(true))

  /** add / upsert of whole records. */
  final case class Put(route: String, recs: Seq[Gen.Rec]) extends Req {
    val cls = "write"
    def body: String =
      s"""{"ids":${strs(recs.map(_.id))},"embeddings":[${recs.map(r => vec(r.emb)).mkString(",")}],""" +
        s""""documents":${strs(recs.map(_.doc))},"metadatas":[${recs.map(meta).mkString(",")}]}"""
  }

  private def vec(v: Array[Float]): String = v.mkString("[", ",", "]")
  private def strs(xs: Seq[String]): String = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
  private def meta(r: Gen.Rec): String =
    s"""{"cat":"${r.cat}","year":${r.year},"flag":${r.flag}}"""

  final case class Resp(status: Int, body: String, seconds: Double)

  /** One HTTP client bound to one collection of one face. */
  final class Client(port: Int, collection: String) {
    private val http = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()
    private val base = s"http://127.0.0.1:$port/api/v2/tenants/default_tenant/" +
      s"databases/default_database/collections/$collection"

    def send(r: Req): Resp = {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/${r.route}"))
        .timeout(java.time.Duration.ofSeconds(120))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(r.body)).build()
      val t0 = System.nanoTime()
      val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      Resp(resp.statusCode(), resp.body(), (System.nanoTime() - t0) / 1e9)
    }
  }

  private implicit val fmts: Formats = DefaultFormats
  def parse(body: String): JValue = JsonMethods.parse(body)

  /** One returned row: id, distance or score, document, metadata. */
  final case class Row(id: String, dist: Option[Double], doc: Option[String],
      cat: Option[String], year: Option[Long], flag: Option[Boolean])

  private def metaRow(m: JValue): (Option[String], Option[Long], Option[Boolean]) =
    ((m \ "cat").extractOpt[String], (m \ "year").extractOpt[Long], (m \ "flag").extractOpt[Boolean])

  /** Rows of a /query, /get or /search response (first query or payload). */
  def rows(r: Req, j: JValue): Seq[Row] = {
    def inner(k: String): List[JValue] = r match {
      case _: GetWhere | _: GetIds => j \ k match { case JArray(vs) => vs; case _ => Nil }
      case _ => j \ k match { case JArray(JArray(vs) :: _) => vs; case _ => Nil }
    }
    val ids = inner("ids").map(_.extract[String])
    val dists = inner(if (r.isInstanceOf[Search]) "scores" else "distances")
    val docs = inner("documents")
    val metas = inner("metadatas")
    ids.indices.map { i =>
      val (c, y, f) = if (i < metas.size) metaRow(metas(i)) else (None, None, None)
      Row(ids(i),
        if (i < dists.size) dists(i).extractOpt[Double] else None,
        if (i < docs.size) docs(i).extractOpt[String] else None, c, y, f)
    }
  }
}
